"""Streaming query surface with batch-SQL oracles.

Each entry runs a genuine Structured Streaming pipeline to
completion on the bounded fixtures (available-now trigger) and
returns the final result as a batch DataFrame.  The oracle contract
is the point: a correct streaming pipeline over a bounded input must
agree exactly with the batch/SQL formulation of the same logic, so
the driver's DuckDB comparison applies to the streaming path too.

``stream_incremental_cc`` is the flagship: events are split into
day-aligned micro-batches, the copresence edge derivation runs
per batch, and the incremental CC state (streaming/incremental.py)
folds each batch in — the final assignment must match the batch
recursive-CTE oracle over the *whole* history, which verifies the
star-edge compression invariant across batch boundaries.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connected_component_spark.queries.graph import (
    CC_USER_COPRESENCE_SQL,
    copresence_edges_from_events,
)
from connected_component_spark.queries.relational import (
    Q_SESSIONIZATION_SQL,
    Q_SESSION_WINDOWS_SQL,
)
from connected_component_spark.queries.parity import dsum, dsum_sql
from connected_component_spark.sources.tables import load_table
from connected_component_spark.streaming.incremental import (
    IncrementalCC,
    run_edge_stream,
)
from connected_component_spark.streaming.windows import (
    run_stream_to_memory,
    stream_events,
    windowed_event_counts,
)

__all__ = ["QUERIES", "ORACLES"]


#: bump on ANY change to the staged-replay layout (columns selected,
#: slice scheme, flush-file schema, mtime spacing) — participates in
#: the cache key so a stale stage from an older code revision can
#: never be silently replayed
STAGE_VERSION = "3"


def _staged_cache(
    kind: str, sf_dir: str, *extra: str, table: str = "events"
) -> tuple[str, bool]:
    """Staging-dir cache for stream replays.

    Re-writing /tmp parquet on every invocation dominated the r1 cost
    of the stream queries (VERDICT item 4).  The dir is keyed by the
    staging-format version + full sf_dir path + events.parquet mtime
    (+ any extra tokens), so a changed fixture OR a changed staging
    layout gets a fresh stage while repeated runs reuse the files.
    Returns (path, needs_build); callers must call ``_mark_ready``
    after a successful build.  Spark's file listing ignores
    ``_``-prefixed files, so the marker never enters a stream.
    Failure contract (r8): a build that raises leaves the lock held;
    a retry on the SAME thread reclaims it immediately (staging.py's
    thread-aware staleness), a foreign process waits out the 600 s
    timeout — acceptable here because these builds are plain parquet
    writes with no raise paths of their own; new multi-step builds
    should use ``sources.staging.ensure_staged`` instead.
    """
    from connected_component_spark.sources.staging import staged_dir

    src = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    return staged_dir(kind, src, STAGE_VERSION, *extra)


def _mark_ready(path: str) -> None:
    from connected_component_spark.sources.staging import mark_ready

    mark_ready(path)


def _n_slices(n_events: int) -> int:
    """Fewer replay micro-batches on small fixtures: per-batch cost is
    scheduler-bound there, and the multi-batch contract only needs >1."""
    return 3 if n_events < 50_000 else 6


def _n_events(spark: SparkSession, sf_dir: str) -> int:
    """Event-count from the parquet footer — no Spark job.  Falls back
    to a Spark count for multi-file layouts."""
    from connected_component_spark.sources.tables import table_row_count

    return table_row_count(spark, sf_dir, "events")


def _events_max_ts(spark: SparkSession, sf_dir: str):
    """max(ts) from parquet footer statistics — no Spark job.  Falls
    back to the aggregate for multi-file layouts or stat-less files."""
    src = os.path.join(os.path.abspath(sf_dir), "events.parquet")
    if os.path.isfile(src):
        import pyarrow.parquet as pq

        f = pq.ParquetFile(src)
        idx = f.schema_arrow.get_field_index("ts")
        maxes = []
        for rg in range(f.metadata.num_row_groups):
            st = f.metadata.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                maxes = []
                break
            maxes.append(st.max)
        import datetime

        # only trust the stat when it decodes to a real timestamp —
        # legacy nanosAsLong fixtures surface raw int64 here, and the
        # comparison column is a session-normalized timestamp
        if maxes and all(isinstance(m, datetime.datetime) for m in maxes):
            return max(maxes)
    return load_table(spark, sf_dir, "events").agg(F.max("ts")).first()[0]


@contextmanager
def _scaled_shuffle(spark: SparkSession, n_rows: int, stores: int = 1):
    """Size shuffle partitions to the replay volume for the duration
    of a streaming query.

    Stateful streaming disables AQE, so nothing coalesces the
    session-default shuffle partitions — every micro-batch pays a full
    set of state-store tasks, and on small replays that fixed per-task
    overhead IS the wall time (r1: ~17 s/stream query at sf0.01).  A
    production stream sizes this per-job the same way; large inputs
    keep the session setting.

    ``stores`` is the number of state stores each partition maintains
    per batch: 1 for a windowed agg/dedup, 4 for a stream-stream join
    (two sides × keyToNumValues/keyWithIndexToValue).  The per-batch
    fixed cost scales with partitions × stores, so joins run
    proportionally narrower (measured at sf0.1: the outer pairs join
    at 16 partitions 24 s → 7 s at 4).

    Assumes single-threaded query execution on the session (the
    driver harness runs queries sequentially): the conf is session-
    global, so a concurrent job launched inside the ``with`` block
    would observe the temporary value.
    """
    if n_rows >= 500_000:
        yield
        return
    base = 4 if n_rows < 50_000 else 16
    target = str(max(4, base // max(1, stores)))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", target)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregate over the event stream."""
    n = _n_events(spark, sf_dir)
    ev = stream_events(spark, sf_dir)
    with _scaled_shuffle(spark, n):
        return run_stream_to_memory(windowed_event_counts(ev))


STREAM_WINDOW_COUNTS_SQL = f"""
SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n_events,
       {dsum_sql('value')} AS sum_value
FROM events
GROUP BY 1, 2
"""


def stream_incremental_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CC over a micro-batched event stream.

    Events are re-written as day-range-partitioned files (whole days
    per file, so every (event_type, hour) copresence bucket lands in
    exactly one micro-batch and per-batch chain edges preserve the
    bucket's connectivity); the file stream replays them one file per
    trigger; foreachBatch folds each batch's edges plus per-user
    self-loops into the running assignment.

    Runs on the DURABLE path (r11, same contract as the stream dedup
    queries): the assignment lands as a per-batch parquet snapshot
    behind ParquetStateStore's atomic manifest, measured at ~+0.3 s
    over the in-session fold; the state dir is torn down after the
    assignment is materialized.
    """
    ev = load_table(spark, sf_dir, "events")
    n = _n_events(spark, sf_dir)
    slices = _n_slices(n)
    staged, build = _staged_cache("ccs_stream_stage", sf_dir, str(slices))
    if build:
        (
            ev.select("user_id", "event_type", "ts")
            .repartitionByRange(slices, F.to_date("ts"))
            .write.mode("overwrite")
            .parquet(staged)
        )
        _mark_ready(staged)

    stream = (
        spark.readStream.schema("user_id long, event_type string, ts timestamp")
        # two day-files per trigger: each (event_type, hour) copresence
        # bucket still lands whole inside one micro-batch (files hold
        # whole days), so per-batch chain edges preserve bucket
        # connectivity exactly as with one file per trigger — at half
        # the fixed micro-batch cost
        .option("maxFilesPerTrigger", "2")
        .parquet(staged)
    )

    def derive(batch_df: DataFrame) -> DataFrame:
        edges = copresence_edges_from_events(batch_df)
        # self-loops keep isolated users as singletons; NOT distinct'd —
        # that shuffle is pure overhead (the CC kernel dedups its input
        # and the incremental fast path handles duplicate loops)
        loops = batch_df.select(
            F.col("user_id").alias("src"), F.col("user_id").alias("dst")
        )
        return edges.union(loops)

    state_dir = tempfile.mkdtemp(prefix="ccs_stream_cc_state_")
    try:
        with _scaled_shuffle(spark, n):
            state = run_edge_stream(
                stream, IncrementalCC(state_dir=state_dir), derive_edges=derive
            )
        # explicit raise, not assert: core row invariant, must survive
        # `python -O` (advice r11)
        if state.assignments is None or state.batches_seen <= 1:
            raise RuntimeError(
                "stream_incremental_cc: backlog not folded — "
                f"{state.batches_seen} batches, assignments "
                f"{'missing' if state.assignments is None else 'present'}"
            )
        return state.assignments.select(
            F.col("node").alias("user_id"), F.col("component")
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


def _stage_session_files(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Stage the event table as event-time-ordered day-slice files
    plus a trailing per-user flush-sentinel file (ts = max + 2 days);
    returns (staged_dir, n_events).  Shared by the stateful custom
    sessionizer and the native session_window stream — both need the
    same bounded replay with a watermark-advancing tail."""
    from connected_component_spark.streaming.state import FLUSH_EVENT_ID

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    n = _n_events(spark, sf_dir)
    slices = _n_slices(n)
    staged, build = _staged_cache("ccs_stream_sessions", sf_dir, str(slices))
    if build:
        # parquet footer stats, no Spark job (ADVICE r3: staging jobs
        # were part of what capped the driver's correctness budget)
        hi = _events_max_ts(spark, sf_dir)

        # ONE range-partitioned write: partition i covers the i-th day
        # range, and part-file name order equals range order — so
        # renaming in name order with ascending mtimes gives the file
        # source an event-time-ordered replay without per-slice filter
        # jobs
        now = time.time()
        tmp = os.path.join(staged, "_tmp_slices")
        (
            ev.repartitionByRange(slices, F.to_date("ts"))
            .write.mode("overwrite")
            .parquet(tmp)
        )
        parts = sorted(
            p
            for p in os.listdir(tmp)
            if p.startswith("part-") and p.endswith(".parquet")
        )
        for i, src in enumerate(parts):
            dst = os.path.join(staged, f"{i:03d}.parquet")
            os.replace(os.path.join(tmp, src), dst)
            os.utime(dst, (now + 10 * i, now + 10 * i))
        shutil.rmtree(tmp)

        flush = ev.select("user_id").distinct().select(
            F.lit(FLUSH_EVENT_ID).cast("long").alias("event_id"),
            (F.lit(hi) + F.expr("INTERVAL 2 DAYS")).alias("ts"),
            "user_id",
            F.lit(0.0).alias("value"),
        )
        tmp = os.path.join(staged, "_tmp_flush")
        flush.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = next(
            p
            for p in os.listdir(tmp)
            if p.startswith("part-") and p.endswith(".parquet")
        )
        dst = os.path.join(staged, f"{slices:03d}_flush.parquet")
        os.replace(os.path.join(tmp, src), dst)
        shutil.rmtree(tmp)
        os.utime(dst, (now + 10 * slices, now + 10 * slices))
        _mark_ready(staged)
    return staged, n


def _session_replay_stream(
    spark: SparkSession, staged: str, files_per_trigger: int = 2
) -> DataFrame:
    return (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        )
        # files per trigger: both session folds are delivery-order-
        # free (events buffer until provably closed), so batch grouping
        # is a pure throughput knob; only the flush file must come
        # last, and its mtime sorts after every slice
        .option("maxFilesPerTrigger", str(files_per_trigger))
        .parquet(staged)
    )


def stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization via applyInPandasWithState.

    The stateful fold is delivery-order-free (streaming/state.py:
    events buffer in state; sessions emit only when provably closed
    by watermark passage or the flush sentinel), so correctness does
    NOT depend on the replay order of the staged slice files — only
    the flush file, carrying one sentinel event per user, must come
    last.  The emitted sessions must equal the batch lag+cumsum
    formulation — Q_SESSIONIZATION_SQL is the oracle.
    """
    from connected_component_spark.streaming.state import sessionize_stream

    staged, n = _stage_session_files(spark, sf_dir)
    sessions = sessionize_stream(_session_replay_stream(spark, staged), gap_s=1800)
    with _scaled_shuffle(spark, n):
        result = run_stream_to_memory(sessions, output_mode="append")
    return result


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessions via Spark's NATIVE streaming session_window
    operator — the built-in stateful sibling of the custom
    applyInPandasWithState fold above, sharing its staged replay.

    Append mode emits a session only once the watermark proves no
    further event can extend it; the staged replay's trailing flush
    file (per-user sentinels at max_ts + 2 days) advances the global
    watermark past every real session, so the bounded stream flushes
    completely.  Sentinel sessions are excluded by event time (a real
    session must START at a real event, i.e. at or before the
    table's max ts).  State is bounded by open sessions within the
    watermark — the production memory contract of session windows.
    Oracle: the same half-open-boundary lag+cumsum SQL as the batch
    q_session_windows.
    """
    staged, n = _stage_session_files(spark, sf_dir)
    hi = _events_max_ts(spark, sf_dir)
    # one trigger holding ALL data slices, then the flush file ALONE
    # in the next batch: append-mode emission requires the watermark
    # to advance (at batch end) BEFORE the final batch processes —
    # i.e. the flush file must land in a strictly later batch than
    # the last data.  Count the ACTUAL staged data files rather than
    # assuming repartitionByRange emitted exactly _n_slices(n) parts:
    # with fewer distinct days (or empty range partitions) some slices
    # never materialize, and a trigger sized to the nominal slice
    # count would swallow the flush file together with the last data,
    # leaving emission to the unreliable optional no-data micro-batch.
    n_data_files = sum(
        1
        for p in os.listdir(staged)
        if p.endswith(".parquet") and not p.endswith("_flush.parquet")
    )
    stream = _session_replay_stream(
        spark, staged, files_per_trigger=max(1, n_data_files)
    )
    sw = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            dsum("value").alias("session_value"),
        )
    )
    with _scaled_shuffle(spark, n):
        result = run_stream_to_memory(sw, output_mode="append")
    return result.where(F.col("w.start") <= F.lit(hi)).select(
        "user_id",
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
        "session_value",
    )


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once dedup over at-least-once delivery:
    ``dropDuplicatesWithinWatermark`` on the event key.

    The staged replay delivers every slice file TWICE (the duplicate
    lands on the next trigger — the redelivery pattern of any
    at-least-once source); keyed dedup state turns that into an
    exactly-once stream, so the result must equal plain DISTINCT over
    the batch table.  The watermark delay is sized to the redelivery
    SLA (here: the whole replay window) — the production rule for
    bounding dedup state: a duplicate can only be recognized while
    its key is still within the watermark.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    n = _n_events(spark, sf_dir)
    slices = _n_slices(n)
    staged, build = _staged_cache("ccs_stream_dedup", sf_dir, str(slices))
    if build:
        now = time.time()
        tmp = os.path.join(staged, "_tmp_slices")
        (
            ev.repartitionByRange(slices, F.to_date("ts"))
            .write.mode("overwrite")
            .parquet(tmp)
        )
        parts = sorted(
            p
            for p in os.listdir(tmp)
            if p.startswith("part-") and p.endswith(".parquet")
        )
        for i, src in enumerate(parts):
            dst = os.path.join(staged, f"{i:03d}.parquet")
            dup = os.path.join(staged, f"{i:03d}_redelivery.parquet")
            os.replace(os.path.join(tmp, src), dst)
            shutil.copyfile(dst, dup)
            # mtime offsets make every redelivery sort AFTER the next
            # original (i*10 vs i*10+12), so with two files per
            # trigger each duplicate lands in a LATER micro-batch than
            # its original — cross-batch dedup state is exercised, at
            # half the trigger count of one-file-per-trigger
            os.utime(dst, (now + 10 * i, now + 10 * i))
            os.utime(dup, (now + 10 * i + 12, now + 10 * i + 12))
        shutil.rmtree(tmp)
        _mark_ready(staged)

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double"
        )
        .option("maxFilesPerTrigger", "2")
        .parquet(staged)
        .withWatermark("ts", "40 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    with _scaled_shuffle(spark, n):
        result = run_stream_to_memory(stream, output_mode="append")
    return result.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )


STREAM_DEDUP_SQL = """
SELECT DISTINCT event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       user_id, event_type, value
FROM events
"""


def stream_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream self-join: consecutive-activity pairs — events of
    the same user within 30 minutes of each other.

    Both sides are watermarked streams; the time-interval join
    condition bounds the state the join keeps (events older than the
    watermark + interval are dropped from the join buffer — the
    constraint that makes stream-stream joins feasible at scale).
    Bounded replay + availableNow ⇒ result equals the batch
    self-join, which is the oracle.
    """
    a = stream_events(spark, sf_dir).select(
        F.col("user_id").alias("a_user"),
        F.col("event_id").alias("first_id"),
        F.col("ts").alias("a_ts"),
    ).withWatermark("a_ts", "1 hour")
    b = stream_events(spark, sf_dir).select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("next_id"),
        F.col("ts").alias("b_ts"),
    ).withWatermark("b_ts", "1 hour")
    joined = a.join(
        b,
        F.expr(
            "a_user = b_user AND b_ts > a_ts "
            "AND b_ts <= a_ts + INTERVAL 30 MINUTES"
        ),
    ).select(
        F.col("a_user").alias("user_id"),
        "first_id",
        "next_id",
        (
            F.col("b_ts").cast("long") - F.col("a_ts").cast("long")
        ).alias("gap_s"),
    )
    n = _n_events(spark, sf_dir)
    with _scaled_shuffle(spark, n, stores=4):
        return run_stream_to_memory(joined, output_mode="append")


STREAM_EVENT_PAIRS_SQL = """
SELECT a.user_id,
       a.event_id AS first_id,
       b.event_id AS next_id,
       CAST(floor(epoch(b.ts)) - floor(epoch(a.ts)) AS BIGINT) AS gap_s
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL 30 MINUTE
"""


def stream_event_pairs_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream self-join: like ``stream_event_pairs``
    but an event with NO successor inside its 30-minute window emits
    exactly one null-padded row — and it may only do so once the
    watermark has provably passed its join window (the late-data
    contract that distinguishes a real streaming outer join from a
    batch one).

    Outer rows are emitted in the batch AFTER the watermark advances,
    so the staged replay appends two single-row flush files (hi+2d,
    hi+4d), each in its own trailing trigger: the first advances the
    watermark past every real event's window, the second provides the
    batch in which the unmatched rows are flushed.  Flush sentinels
    are filtered from the result; the oracle is the batch LEFT JOIN.
    """
    from connected_component_spark.streaming.state import FLUSH_EVENT_ID

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    n = _n_events(spark, sf_dir)
    # one file per trigger (each flush sentinel needs its own batch),
    # so cap the slice count: with 3 slices + 2 sentinels the replay
    # is 5 triggers, which already exercises cross-batch join state;
    # more batches only multiply fixed per-trigger stream-join cost
    slices = 3
    staged, build = _staged_cache("ccs_stream_pairs_outer", sf_dir, str(slices))
    if build:
        hi = _events_max_ts(spark, sf_dir)  # footer stats, no Spark job
        now = time.time()
        tmp = os.path.join(staged, "_tmp_slices")
        (
            ev.repartitionByRange(slices, F.to_date("ts"))
            .write.mode("overwrite")
            .parquet(tmp)
        )
        parts = sorted(
            p
            for p in os.listdir(tmp)
            if p.startswith("part-") and p.endswith(".parquet")
        )
        for i, src in enumerate(parts):
            dst = os.path.join(staged, f"{i:03d}.parquet")
            os.replace(os.path.join(tmp, src), dst)
            os.utime(dst, (now + 10 * i, now + 10 * i))
        shutil.rmtree(tmp)
        # one-row flush files: the watermark is the stream-global max
        # event time minus the delay, so a single sentinel advances it
        for j, days in enumerate((2, 4)):
            flush = spark.range(1).select(
                F.lit(FLUSH_EVENT_ID).cast("long").alias("event_id"),
                (F.lit(hi) + F.expr(f"INTERVAL {days} DAYS")).alias("ts"),
                F.lit(-1).cast("long").alias("user_id"),
            )
            tmp = os.path.join(staged, "_tmp_flush")
            flush.coalesce(1).write.mode("overwrite").parquet(tmp)
            src = next(
                p
                for p in os.listdir(tmp)
                if p.startswith("part-") and p.endswith(".parquet")
            )
            dst = os.path.join(staged, f"{slices + j:03d}_flush{j}.parquet")
            os.replace(os.path.join(tmp, src), dst)
            shutil.rmtree(tmp)
            os.utime(dst, (now + 10 * (slices + j), now + 10 * (slices + j)))
        _mark_ready(staged)

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long")
        # one file per trigger: each flush sentinel must land in its
        # own batch (advance watermark, THEN flush outer state)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    a = stream.select(
        F.col("user_id").alias("a_user"),
        F.col("event_id").alias("first_id"),
        F.col("ts").alias("a_ts"),
    ).withWatermark("a_ts", "1 hour")
    b = stream.select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("next_id"),
        F.col("ts").alias("b_ts"),
    ).withWatermark("b_ts", "1 hour")
    joined = a.join(
        b,
        F.expr(
            "a_user = b_user AND b_ts > a_ts "
            "AND b_ts <= a_ts + INTERVAL 30 MINUTES"
        ),
        "left_outer",
    ).select(
        F.col("a_user").alias("user_id"),
        "first_id",
        "next_id",
        (
            F.col("b_ts").cast("long") - F.col("a_ts").cast("long")
        ).alias("gap_s"),
    )
    with _scaled_shuffle(spark, n, stores=4):
        result = run_stream_to_memory(joined, output_mode="append")
    return result.where(F.col("first_id") != FLUSH_EVENT_ID)


STREAM_EVENT_PAIRS_OUTER_SQL = """
SELECT a.user_id,
       a.event_id AS first_id,
       b.event_id AS next_id,
       CAST(floor(epoch(b.ts)) - floor(epoch(a.ts)) AS BIGINT) AS gap_s
FROM events a
LEFT JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL 30 MINUTE
"""


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream broadcast-joined to
    the static customer→nation dimensions, then a watermarked hourly
    window aggregate per nation.

    The stream-static join is the standard production shape for
    dimension enrichment (the dim is re-read per micro-batch, no
    state); on a cluster the same plan broadcasts the dim to every
    task, so the stream side never shuffles before the windowed agg.
    """
    from connected_component_spark.sources.tables import load_table

    n = _n_events(spark, sf_dir)
    ev = stream_events(spark, sf_dir)
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey"
        )
    )
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    enriched = ev.join(cust, ev.user_id == F.col("c_custkey")).join(
        nation, F.col("c_nationkey") == F.col("n_nationkey")
    )
    agg = (
        enriched.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n_name",
            "n_events",
            "sum_value",
        )
    )
    with _scaled_shuffle(spark, n):
        return run_stream_to_memory(agg)


STREAM_STATIC_ENRICH_SQL = f"""
SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       n_name,
       count(*) AS n_events,
       {dsum_sql('value')} AS sum_value
FROM events
JOIN customer ON user_id = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY 1, 2
"""


_DEDUP_STREAM_SLICES = 5


def _staged_id_slices(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    table: str,
    id_col: str,
    n_slices: int,
    cols: tuple[str, ...] | None = None,
) -> str:
    """Stage ``table`` as ``n_slices`` id-range parquet files with
    strictly increasing mtimes, so a maxFilesPerTrigger=1 file stream
    replays them one per trigger in ingestion order — single-sourced
    for every replay staging (review r11: the embeddings variant had
    copy-pasted this loop)."""
    from connected_component_spark.sources.tables import table_row_count

    df = load_table(spark, sf_dir, table)
    if cols is not None:
        df = df.select(*cols)
    n = table_row_count(spark, sf_dir, table)
    stride = n // n_slices
    staged, build = _staged_cache(kind, sf_dir, str(stride), table=table)
    if build:
        now = time.time()
        for i in range(n_slices):
            lo = i * stride
            cond = F.col(id_col) >= lo
            if i < n_slices - 1:
                cond = cond & (F.col(id_col) < lo + stride)
            tmp = os.path.join(staged, "_tmp_slice")
            df.where(cond).coalesce(1).write.mode("overwrite").parquet(tmp)
            src = next(
                p
                for p in os.listdir(tmp)
                if p.startswith("part-") and p.endswith(".parquet")
            )
            dst = os.path.join(staged, f"{i:03d}.parquet")
            os.replace(os.path.join(tmp, src), dst)
            shutil.rmtree(tmp)
            os.utime(dst, (now + 10 * i, now + 10 * i))
        _mark_ready(staged)
    return staged


def _staged_doc_slices(spark: SparkSession, sf_dir: str) -> str:
    """Documents as doc_id-range replay slices — shared by the
    incremental-dedup and incremental-winnow stream queries (one
    staging, one cache key)."""
    return _staged_id_slices(
        spark,
        sf_dir,
        "ccs_stream_dedup",
        "documents",
        "doc_id",
        _DEDUP_STREAM_SLICES,
        cols=("doc_id", "text"),
    )


def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion near-dedup over a document stream
    (streaming/dedup.py:IncrementalDedup).

    Documents are staged as ``_DEDUP_STREAM_SLICES`` doc_id-range
    files replayed one per trigger in ingestion order; foreachBatch
    classifies each batch against the accumulated band/shingle state
    (broadcast band join — the corpus is never re-minhashed) and then
    folds the batch in.  Batch 0 seeds the corpus; the result is the
    classification of every later doc, which must equal the batch
    oracle computed over the whole corpus with batch boundaries
    derived from doc_id ranges.

    The fold runs on the DURABLE path (r11): state and results land
    as per-batch parquet appends behind ParquetStateStore's atomic
    manifest — the production continuous-ingestion configuration,
    where a session restart resumes from the committed state
    (tests/test_durable_state.py pins the restart equivalence).  The
    per-run state dir is torn down after the classifications are
    materialized."""
    from connected_component_spark.queries.llmops import (
        _JACCARD_THRESHOLD,
        _LSH_BANDS,
        _MINHASH_N,
    )
    from connected_component_spark.sources.tables import table_row_count
    from connected_component_spark.streaming.dedup import (
        IncrementalDedup,
        run_doc_stream,
    )

    n = table_row_count(spark, sf_dir, "documents")
    staged = _staged_doc_slices(spark, sf_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    state_dir = tempfile.mkdtemp(prefix="ccs_stream_dedup_state_")
    try:
        with _scaled_shuffle(spark, n):
            state = run_doc_stream(
                stream,
                IncrementalDedup(
                    num_hashes=_MINHASH_N,
                    bands=_LSH_BANDS,
                    threshold=_JACCARD_THRESHOLD,
                    state_dir=state_dir,
                ),
            )
        # explicit raise, not assert: core row invariant, must survive
        # `python -O` (advice r11)
        if state.batches_seen != _DEDUP_STREAM_SLICES or state.results is None:
            raise RuntimeError(
                "stream_incremental_dedup: backlog not drained — folded "
                f"{state.batches_seen}/{_DEDUP_STREAM_SLICES} slices"
            )
        # materialize off the state dir before tearing it down (the
        # returned plan must not reference deleted parquet)
        return state.results.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


def _stream_incremental_dedup_sql() -> str:
    from connected_component_spark.queries.llmops import (
        _JACCARD_THRESHOLD,
        _lsh_pairs_sql,
        _minhash_sql_core,
    )

    s = _DEDUP_STREAM_SLICES
    return f"""
WITH {_minhash_sql_core()},
{_lsh_pairs_sql()},
edges AS (
  SELECT a, b FROM jac WHERE jaccard >= {_JACCARD_THRESHOLD}
),
params AS (SELECT count(*) // {s} AS stride FROM documents),
bt AS (
  SELECT doc_id, least(doc_id // stride, {s - 1}) AS b_no
  FROM documents, params
),
e2 AS (
  SELECT e.a, e.b, ba.b_no AS ba_no, bb.b_no AS bb_no
  FROM edges e
  JOIN bt ba ON ba.doc_id = e.a
  JOIN bt bb ON bb.doc_id = e.b
),
corpus_m AS (
  SELECT b AS doc_id, min(a) AS corpus_canon
  FROM e2 WHERE ba_no < bb_no GROUP BY b
),
batch_m AS (
  SELECT b AS doc_id, min(a) AS batch_canon
  FROM e2 WHERE ba_no = bb_no GROUP BY b
)
SELECT d.doc_id,
       CASE WHEN corpus_canon IS NOT NULL THEN 'dup_of_corpus'
            WHEN batch_canon IS NOT NULL THEN 'dup_in_batch'
            ELSE 'novel' END AS status,
       coalesce(corpus_canon, batch_canon, d.doc_id) AS canonical_doc_id
FROM (SELECT doc_id FROM bt WHERE b_no >= 1) d
LEFT JOIN corpus_m USING (doc_id)
LEFT JOIN batch_m USING (doc_id)
"""


STREAM_INCREMENTAL_DEDUP_SQL = _stream_incremental_dedup_sql()


def stream_winnow_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion PASSAGE-level dedup over a document
    stream (streaming/winnow.py:IncrementalWinnow) — the winnowing
    analogue of stream_incremental_dedup: per-batch winnowing
    fingerprints are classified against the accumulated fingerprint
    state (batch side broadcast; the corpus is fingerprinted exactly
    once, on arrival), then folded in.  This is where passage-level
    contamination actually arrives in a training pipeline: documents
    quoting an already-ingested passage are flagged at ingest time.

    Same replay protocol as stream_incremental_dedup (the two share
    one staged-slice cache): batch 0 seeds, every later doc gets a
    (doc_id, status, canonical_doc_id) row.  Fingerprints are a pure
    per-doc function, so the oracle is the GLOBAL winnow-pair
    computation (uncapped — the stream state keeps every fingerprint)
    with batch boundaries derived from doc_id ranges.

    Runs on the DURABLE path (r11), same as stream_incremental_dedup:
    per-batch parquet appends + atomic manifest, torn down after the
    classifications are materialized."""
    from connected_component_spark.queries.llmops import (
        _WINNOW_K,
        _WINNOW_MIN_SHARED,
        _WINNOW_W,
    )
    from connected_component_spark.sources.tables import table_row_count
    from connected_component_spark.streaming.winnow import (
        IncrementalWinnow,
        run_winnow_stream,
    )

    n = table_row_count(spark, sf_dir, "documents")
    staged = _staged_doc_slices(spark, sf_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    state_dir = tempfile.mkdtemp(prefix="ccs_stream_winnow_state_")
    try:
        with _scaled_shuffle(spark, n):
            state = run_winnow_stream(
                stream,
                IncrementalWinnow(
                    k=_WINNOW_K,
                    window=_WINNOW_W,
                    min_shared=_WINNOW_MIN_SHARED,
                    state_dir=state_dir,
                ),
            )
        # explicit raise, not assert: core row invariant, must survive
        # `python -O` (advice r11)
        if state.batches_seen != _DEDUP_STREAM_SLICES or state.results is None:
            raise RuntimeError(
                "stream_winnow_dedup: backlog not drained — folded "
                f"{state.batches_seen}/{_DEDUP_STREAM_SLICES} slices"
            )
        return state.results.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


def stream_winnow_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crash-restart equivalence as a DRIVER-CHECKED row (r11): the
    durable winnow state is built from the first three replay slices
    (epochs 0-2), the operator instance is then DISCARDED — only the
    parquet state + atomic manifest survive, exactly what a session
    crash leaves — and a fresh instance resumed via
    ``IncrementalWinnow.load`` folds the remaining two slices
    (epochs 3-4).  The classifications must equal the UNINTERRUPTED
    run's, so the oracle is stream_winnow_dedup's verbatim: the
    global winnow-pair computation with the same doc_id-range batch
    boundaries.  Batches are folded directly (one parquet read per
    staged slice, the unit-fold contract); the readStream +
    checkpointLocation restart drill over the same operator is pinned
    in tests/test_durable_state.py."""
    from connected_component_spark.queries.llmops import (
        _WINNOW_K,
        _WINNOW_MIN_SHARED,
        _WINNOW_W,
    )
    from connected_component_spark.sources.tables import table_row_count
    from connected_component_spark.streaming.winnow import IncrementalWinnow

    n = table_row_count(spark, sf_dir, "documents")
    staged = _staged_doc_slices(spark, sf_dir)
    slices = sorted(
        os.path.join(staged, p)
        for p in os.listdir(staged)
        if p.endswith(".parquet")
    )
    # crash two slices before the end — derived from the shared slice
    # constant so the drill can never desynchronize from the staging
    # layout or the oracle's batch boundaries (review r11)
    crash_at = _DEDUP_STREAM_SLICES - 2
    state_dir = tempfile.mkdtemp(prefix="ccs_stream_winnow_restart_")
    try:
        with _scaled_shuffle(spark, n):
            state = IncrementalWinnow(
                k=_WINNOW_K,
                window=_WINNOW_W,
                min_shared=_WINNOW_MIN_SHARED,
                state_dir=state_dir,
            )
            for i, path in enumerate(slices[:crash_at]):
                state.update(
                    spark.read.parquet(path).select("doc_id", "text"),
                    epoch_id=i,
                )
            del state  # the "crash": only the disk state survives
            resumed = IncrementalWinnow.load(spark, state_dir)
            # explicit raise, not assert: the resumed-at-crash-point
            # claim is the row's core invariant (advice r11)
            if resumed.batches_seen != crash_at:
                raise RuntimeError(
                    f"stream_winnow_restart: resumed at batch "
                    f"{resumed.batches_seen}, expected {crash_at}"
                )
            for i, path in enumerate(slices[crash_at:], start=crash_at):
                resumed.update(
                    spark.read.parquet(path).select("doc_id", "text"),
                    epoch_id=i,
                )
        if resumed.batches_seen != _DEDUP_STREAM_SLICES or resumed.results is None:
            raise RuntimeError(
                "stream_winnow_restart: backlog not drained — folded "
                f"{resumed.batches_seen}/{_DEDUP_STREAM_SLICES} slices"
            )
        return resumed.results.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


def _stream_winnow_dedup_sql() -> str:
    from connected_component_spark.queries.llmops import (
        _WINNOW_MIN_SHARED,
        _winnow_core_sql,
    )

    s = _DEDUP_STREAM_SLICES
    return f"""
WITH {_winnow_core_sql(min_shared=_WINNOW_MIN_SHARED, max_df=None)},
params AS (SELECT count(*) // {s} AS stride FROM documents),
bt AS (
  SELECT doc_id, least(doc_id // stride, {s - 1}) AS b_no
  FROM documents, params
),
e2 AS (
  SELECT w.doc_a AS a, w.doc_b AS b, ba.b_no AS ba_no, bb.b_no AS bb_no
  FROM wpairs w
  JOIN bt ba ON ba.doc_id = w.doc_a
  JOIN bt bb ON bb.doc_id = w.doc_b
),
corpus_m AS (
  SELECT b AS doc_id, min(a) AS corpus_canon
  FROM e2 WHERE ba_no < bb_no GROUP BY b
),
batch_m AS (
  SELECT b AS doc_id, min(a) AS batch_canon
  FROM e2 WHERE ba_no = bb_no GROUP BY b
)
SELECT d.doc_id,
       CASE WHEN corpus_canon IS NOT NULL THEN 'dup_of_corpus'
            WHEN batch_canon IS NOT NULL THEN 'dup_in_batch'
            ELSE 'novel' END AS status,
       coalesce(corpus_canon, batch_canon, d.doc_id) AS canonical_doc_id
FROM (SELECT doc_id FROM bt WHERE b_no >= 1) d
LEFT JOIN corpus_m USING (doc_id)
LEFT JOIN batch_m USING (doc_id)
"""


STREAM_WINNOW_DEDUP_SQL = _stream_winnow_dedup_sql()


_ANN_STREAM_SLICES = 5


def _staged_emb_slices(spark: SparkSession, sf_dir: str) -> str:
    """The embeddings table as vec_id-range replay slices — the ANN
    twin of _staged_doc_slices on the shared staging loop."""
    return _staged_id_slices(
        spark,
        sf_dir,
        "ccs_stream_ann",
        "embeddings",
        "vec_id",
        _ANN_STREAM_SLICES,
    )


def stream_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous ANN-index ingestion as a REAL Structured Streaming
    path (streaming/annindex.py:run_vec_stream): the embeddings
    corpus is staged as vec_id-range files replayed one per trigger;
    foreachBatch assigns each micro-batch to the fixed trained coarse
    cells and appends it to the durable cell-partitioned index, which
    is then served once the backlog drains.  Cell membership is a
    pure function of (vector, codebook), so the stream-built index
    must serve results IDENTICAL to the batch trained-IVF query —
    the oracle is ann_ivf_kmeans_topk's verbatim (the same claim
    the direct-fold ann_ivf_incremental_topk row makes, here through
    the actual readStream/foreachBatch machinery)."""
    from connected_component_spark.queries.llmops import (
        _ivf_kmeans_centroids,
    )
    from connected_component_spark.sources.tables import table_row_count
    from connected_component_spark.streaming.annindex import (
        IncrementalIVF,
        run_vec_stream,
    )

    n = table_row_count(spark, sf_dir, "embeddings")
    staged = _staged_emb_slices(spark, sf_dir)
    stream = (
        spark.readStream.schema(
            "vec_id long, embedding array<float>, label int"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    emb = load_table(spark, sf_dir, "embeddings")
    state_dir = tempfile.mkdtemp(prefix="ccs_stream_ann_state_")
    try:
        with _scaled_shuffle(spark, n):
            idx = run_vec_stream(
                stream,
                IncrementalIVF(
                    _ivf_kmeans_centroids(spark, sf_dir),
                    state_dir=state_dir,
                ),
            )
            # explicit raise, not assert — the backlog-drained claim is
            # the row's core invariant and must survive `python -O`
            # (advice r11)
            if idx.batches_seen != _ANN_STREAM_SLICES:
                raise RuntimeError(
                    f"stream_ann_ingest: backlog not drained — folded "
                    f"{idx.batches_seen}/{_ANN_STREAM_SLICES} slices"
                )
            out = idx.topk(emb.where(F.col("vec_id") % 50 == 0), k=5)
            return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


def stream_bm25_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous BM25-index ingestion as a REAL Structured Streaming
    path (streaming/bm25.py:run_doc_index_stream): the documents
    corpus is staged as doc_id-range files replayed one per trigger
    (the dedup/winnow queries' shared staging); foreachBatch tokenizes
    each micro-batch once and appends it to the durable bucketed
    posting-list layout, which serves the lexical query batch once the
    backlog drains.  Term statistics are associative, so the
    stream-built index must serve rankings IDENTICAL to the batch BM25
    query — the oracle is text_bm25_topk's verbatim (the same claim
    the direct-fold text_bm25_incremental_topk row makes, here through
    the actual readStream/foreachBatch machinery)."""
    from connected_component_spark.queries.llmops import (
        _BM25_B,
        _BM25_K1,
        _BM25_QUERIES,
        _BM25_TOPK,
    )
    from connected_component_spark.sources.tables import table_row_count
    from connected_component_spark.streaming.bm25 import (
        IncrementalBM25,
        run_doc_index_stream,
    )

    n = table_row_count(spark, sf_dir, "documents")
    staged = _staged_doc_slices(spark, sf_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    q = spark.createDataFrame(
        list(_BM25_QUERIES), "query_id long, query_text string"
    )
    state_dir = tempfile.mkdtemp(prefix="ccs_stream_bm25_state_")
    try:
        with _scaled_shuffle(spark, n):
            idx = run_doc_index_stream(
                stream, IncrementalBM25(state_dir=state_dir)
            )
            # explicit raise, not assert — the backlog-drained claim is
            # the row's core invariant and must survive `python -O`
            if idx.batches_seen != _DEDUP_STREAM_SLICES:
                raise RuntimeError(
                    f"stream_bm25_ingest: backlog not drained — indexed "
                    f"{idx.batches_seen}/{_DEDUP_STREAM_SLICES} slices"
                )
            out = idx.topk(q, k1=_BM25_K1, b=_BM25_B, k=_BM25_TOPK)
            return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


QUERIES = {
    "stream_window_counts": stream_window_counts,
    "stream_incremental_cc": stream_incremental_cc,
    "stream_sessionization": stream_sessionization,
    "stream_event_pairs": stream_event_pairs,
    "stream_event_pairs_outer": stream_event_pairs_outer,
    "stream_dedup": stream_dedup,
    "stream_static_enrich": stream_static_enrich,
    "stream_session_windows": stream_session_windows,
    "stream_incremental_dedup": stream_incremental_dedup,
    "stream_winnow_dedup": stream_winnow_dedup,
    "stream_winnow_restart": stream_winnow_restart,
    "stream_bm25_ingest": stream_bm25_ingest,
    "stream_ann_ingest": stream_ann_ingest,
}


def _ann_ingest_oracle() -> str:
    from connected_component_spark.queries.llmops import (
        ANN_IVF_KMEANS_TOPK_SQL,
    )

    return ANN_IVF_KMEANS_TOPK_SQL


def _bm25_ingest_oracle() -> str:
    from connected_component_spark.queries.llmops import TEXT_BM25_TOPK_SQL

    return TEXT_BM25_TOPK_SQL

ORACLES = {
    "stream_window_counts": STREAM_WINDOW_COUNTS_SQL,
    "stream_incremental_cc": CC_USER_COPRESENCE_SQL,
    "stream_sessionization": Q_SESSIONIZATION_SQL,
    "stream_event_pairs": STREAM_EVENT_PAIRS_SQL,
    "stream_event_pairs_outer": STREAM_EVENT_PAIRS_OUTER_SQL,
    "stream_dedup": STREAM_DEDUP_SQL,
    "stream_static_enrich": STREAM_STATIC_ENRICH_SQL,
    "stream_session_windows": Q_SESSION_WINDOWS_SQL,
    "stream_incremental_dedup": STREAM_INCREMENTAL_DEDUP_SQL,
    "stream_winnow_dedup": STREAM_WINNOW_DEDUP_SQL,
    # restart must reproduce the uninterrupted run exactly — same oracle
    "stream_winnow_restart": STREAM_WINNOW_DEDUP_SQL,
    # stream-built index == batch index (cell assignment is pure)
    "stream_ann_ingest": _ann_ingest_oracle(),
    # stream-built posting lists == batch BM25 (term stats associative)
    "stream_bm25_ingest": _bm25_ingest_oracle(),
}
