"""Structured Streaming surface over the ``events`` table shape.

The reference is pure batch (SURVEY §2.10); this is additive surface
for the streaming-ETL north star. All plans are standard Structured
Streaming — watermark + windowed aggregation, session windows, and
stream dedup — and each has a batch twin in plans/analytics.py so the
semantics are oracle-checkable (the streaming tests assert
stream-vs-batch equivalence under Trigger.AvailableNow).
"""

from __future__ import annotations

import os
from contextlib import contextmanager as _contextmanager

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over a parquet directory (one file per
    micro-batch by default; schema fixed — streaming requires it)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def hourly_counts(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour windows per event_type; late rows beyond the
    watermark are dropped. State is bounded by the watermark horizon."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.sum("value").alias("value_sum"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("hour_epoch"),
            "event_type",
            "event_count",
            "value_sum",
        )
    )


def sliding_value_avg(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Sliding 1-hour windows every 15 minutes — rate-style metric."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "15 minutes"), F.col("event_type"))
        .agg(F.avg("value").alias("value_avg"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            "event_type",
            "value_avg",
        )
    )


def sessionize(stream: DataFrame, gap: str = "30 minutes",
               watermark: str = "2 hours") -> DataFrame:
    """Session windows per user (native session_window — state expires
    past the watermark; no custom state store logic needed)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("session_window.start")).alias("session_start"),
            "n_events",
        )
    )


def dedup_stream(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Exactly-once-per-key event stream: dropDuplicates within the
    watermark horizon (state auto-expires)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_to_memory(query_df: DataFrame, name: str, mode: str = "complete"):
    """Drain a bounded stream with Trigger.AvailableNow into an
    in-memory sink (test/verification harness)."""
    q = (
        query_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


# ---------------------------------------------------------------------------
# Custom stateful operator: applyInPandasWithState
# ---------------------------------------------------------------------------

RUNNING_TOTALS_SCHEMA = (
    "user_id long, n_events long, value_sum double, max_value double"
)
_RUNNING_STATE_SCHEMA = "n long, s double, m double"


def running_user_totals(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Custom stateful aggregation via ``applyInPandasWithState``: a
    per-user running (count, sum, max) over the whole stream, emitted
    as an update every micro-batch the user appears in.

    This is the escape hatch for aggregations Structured Streaming's
    built-ins can't express (arbitrary per-key state machines). State
    is a 3-field tuple per user — constant memory per key; the
    processing-time timeout is deliberately unused here (totals never
    expire), but late rows beyond the watermark are still dropped
    upstream.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, batches, state: GroupState):
        n, s, m = state.get if state.exists else (0, 0.0, float("-inf"))
        for pdf in batches:
            vals = pdf["value"].dropna()
            n += len(pdf)
            if len(vals):
                s += float(vals.sum())
                m = max(m, float(vals.max()))
        state.update((n, s, m))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "value_sum": [s],
                "max_value": [m if m != float("-inf") else None],
            }
        )

    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=RUNNING_TOTALS_SCHEMA,
            stateStructType=_RUNNING_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_to_parquet(
    query_df: DataFrame, path: str, checkpoint: str, mode: str = "append"
):
    """Drain a bounded stream into a parquet sink with a durable
    checkpoint: offsets + sink commits live in ``checkpoint``, so a
    restarted query resumes exactly where it stopped (exactly-once
    file-source → file-sink semantics). This is the production write
    path; the memory sink is test-only."""
    q = (
        query_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def enrich_stream(stream: DataFrame, user_dim: DataFrame) -> DataFrame:
    """Stream-static join: attach slowly-changing user attributes to
    the event stream. The static side is re-planned per micro-batch
    (so dim refreshes are picked up) and carries NO broadcast hint —
    ``user_dim`` is caller-supplied and may be corpus-scaled, so the
    planner picks broadcast while it fits the auto threshold and a
    shuffle join once it doesn't; no watermark needed because the
    static side never grows state."""
    return stream.join(user_dim, "user_id", "left")


def purchases_after_clicks(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: purchases attributed to a click by
    the same user within ``horizon``. Both sides carry watermarks and
    the join predicate bounds event-time distance, so the state store
    can expire rows — the two conditions Structured Streaming requires
    for bounded-state stream-stream joins."""
    c = (
        clicks.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    p = (
        purchases.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
    )
    return c.join(
        p,
        F.expr(
            f"""
            c_user = p_user AND
            purchase_ts >= click_ts AND
            purchase_ts <= click_ts + interval {horizon}
            """
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )


def run_upsert_sink(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    keys: list[str],
    order_col: str,
):
    """foreachBatch keyed-upsert sink: merge each micro-batch into a
    parquet table keyed on ``keys`` (greatest ``order_col`` wins) — a
    stream maintaining a dimension table, the MERGE-INTO shape on
    plain parquet. The batch id gives idempotent replay: a re-run
    micro-batch re-merges to the same state (last-write-wins is
    idempotent), so exactly-once table state rides on the checkpoint's
    at-least-once delivery.

    Scale note: each merge rewrites the table (bounded by key
    cardinality, not stream length — fine for dimension-sized state).
    Log-structured targets (Delta/Iceberg MERGE) swap in here without
    touching the query graph.
    """
    from ..sources.sinks import dedup_last_write_wins

    spark = stream.sparkSession

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        fresh = dedup_last_write_wins(batch_df, keys, order_col)
        try:
            current = spark.read.parquet(path)
            merged = dedup_last_write_wins(
                current.unionByName(fresh), keys, order_col
            )
        except Exception:
            merged = fresh
        staged = path.rstrip("/") + "__staged"
        merged.write.mode("overwrite").parquet(staged)
        import os
        import shutil

        if os.path.exists(path):
            shutil.rmtree(path)
        os.rename(staged, path)

    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


# ---------------------------------------------------------------------------
# Custom stateful operator #2: transformWithStateInPandas (the Spark 4
# arbitrary-state API superseding applyInPandasWithState — typed state
# primitives, per-key timers, optional TTL).
# ---------------------------------------------------------------------------

EVENT_TYPE_COUNTS_SCHEMA = "user_id long, event_type string, n long"


def per_user_event_type_counts(
    stream: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Running per-(user, event_type) counts via a MapState keyed by
    event_type inside each user's state — the state-machine shape
    (per-key sub-keyed state) that windowed aggregation can't express
    and applyInPandasWithState could only fake with encoded blobs.
    Emits the updated (user_id, event_type, n) rows each micro-batch
    the user appears in.

    Requires the RocksDB state store provider and the protobuf package
    (the TWS state protocol) — gate deployments accordingly; this
    container lacks protobuf, so the unit test importorskips."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class EventTypeCounts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.counts = handle.getMapState(
                "counts", "event_type string", "n long"
            )

        def handleInputRows(self, key, rows, timerValues):
            batch_counts: dict[str, int] = {}
            for pdf in rows:
                for et, cnt in pdf.groupby("event_type").size().items():
                    batch_counts[et] = batch_counts.get(et, 0) + int(cnt)
            out = []
            for et, cnt in batch_counts.items():
                prev = (
                    self.counts.getValue((et,))[0]
                    if self.counts.containsKey((et,))
                    else 0
                )
                total = prev + cnt
                self.counts.updateValue((et,), (total,))
                out.append((key[0], et, total))
            yield pd.DataFrame(
                out, columns=["user_id", "event_type", "n"]
            )

        def close(self) -> None:
            pass

    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=EventTypeCounts(),
            outputStructType=EVENT_TYPE_COUNTS_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


ANOMALY_FLAGS_SCHEMA = (
    "user_id long, ts_us long, value double, ewma_before double, zscore double"
)
_ANOMALY_STATE_SCHEMA = "n long, mean double, var double"


def ewma_anomaly_flags(
    stream: DataFrame,
    alpha: float = 0.2,
    z_threshold: float = 3.0,
    min_obs: int = 5,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming anomaly detection via ``applyInPandasWithState``:
    per-user exponentially-weighted mean AND variance (West 1979
    incremental update) carried as 3 doubles of state per key; an
    event whose deviation from the pre-update EWMA exceeds
    ``z_threshold`` standard deviations (after a ``min_obs`` warm-up)
    is emitted as an anomaly row. Only anomalies are emitted — the
    common production shape where the flagged stream is 1e-3 of the
    input and feeds an alerting sink.

    Rows are processed in (ts, event_id) order WITHIN each micro-batch
    (sorted here — the state protocol hands batches unordered); across
    micro-batches order follows source arrival, which the file source
    ties to event time in this package's staging discipline. State per
    key is O(1) — the operator never buffers events.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, batches, state: GroupState):
        n, mean, var = state.get if state.exists else (0, 0.0, 0.0)
        out = []
        for pdf in batches:
            pdf = pdf.sort_values(["ts", "event_id"])
            for ts, val in zip(pdf["ts"], pdf["value"]):
                x = float(val)
                if n >= min_obs and var > 0.0:
                    dev = abs(x - mean) / (var ** 0.5)
                    if dev > z_threshold:
                        out.append(
                            (
                                int(key[0]),
                                int(ts.value // 1000),  # ns -> us
                                x,
                                mean,
                                dev,
                            )
                        )
                if n == 0:
                    mean, var = x, 0.0
                else:
                    d = x - mean
                    incr = alpha * d
                    mean = mean + incr
                    var = (1.0 - alpha) * (var + d * incr)
                n += 1
        state.update((n, mean, var))
        yield pd.DataFrame(
            out,
            columns=["user_id", "ts_us", "value", "ewma_before", "zscore"],
        )

    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=ANOMALY_FLAGS_SCHEMA,
            stateStructType=_ANOMALY_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Growth accounting over a stream: maintain first-seen epoch-day per
# user (the state behind "cumulative unique users") with a
# foreachBatch MIN-merge.
# ---------------------------------------------------------------------------


def _recover_interrupted_swap(path: str) -> None:
    """Complete the recovery half of ``_atomic_swap_parquet``: a crash
    between its two renames leaves ``path`` missing and ``path__old``
    holding the accumulated fold state. Without this restore, the next
    merge would see a missing table, rebuild state from the current
    batch alone, and its swap's rmtree would then silently delete the
    only recoverable copy — earlier batches never replay under
    availableNow, so the loss would be permanent. Call this BEFORE
    reading ``path`` in every foreachBatch merge. (All sinks using the
    swap are idempotent folds — MIN / set-union — so restoring the
    pre-swap state and re-merging the replayed batch converges to the
    same table.)

    A LIVE lock held by another pid (``state_write_lock``) means a
    writer is mid-operation on the root right now — recovery must NOT
    touch it: renaming ``__old`` back between a live compaction's two
    renames would make its second rename collide and fail. The live
    holder finishes (or dies, after which the lock is stale and the
    next caller recovers). Our own pid's lock does not suppress
    recovery — a drain's foreachBatch merges run under the drain's
    own lock."""
    import os

    holder = _live_lock_holder(path)
    if holder is not None and holder != os.getpid():
        return
    aside = path.rstrip("/") + "__old"
    if not os.path.exists(path) and os.path.exists(aside):
        os.rename(aside, path)


def pin_state_params(state_path: str, params: dict) -> None:
    """Pin a state root's build parameters in a ``.params.json``
    sidecar (NEXT TO the root so it survives compaction's whole-root
    swap). Sketch/bitmap cell schemas cannot carry their (width,
    depth, hash-count…) parameters, and folding partials built under
    different ones corrupts the state SILENTLY — wrong cells are
    indistinguishable from collision noise. First caller writes the
    pin; a later drain with a different tuple raises."""
    import json

    pfile = state_path.rstrip("/") + ".params.json"
    if os.path.exists(pfile):
        with open(pfile) as fh:
            pinned = json.load(fh)
        if pinned != params:
            raise ValueError(
                f"state root {state_path} was built with {pinned}; "
                f"draining with {params} would silently corrupt it — "
                f"use a fresh state root to change parameters"
            )
    else:
        with open(pfile, "w") as fh:
            json.dump(params, fh)


def _live_lock_holder(path: str) -> "int | None":
    """Pid recorded in ``<path>.lock`` if that process is alive, else
    None (no lock file, unreadable contents, or a dead holder)."""
    import os

    lock = path.rstrip("/") + ".lock"
    try:
        with open(lock) as fh:
            pid = int(fh.read().split()[0])
    except (OSError, ValueError, IndexError):
        return None
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return None
    except PermissionError:
        pass  # alive, just owned by another uid
    return pid


@_contextmanager
def state_write_lock(state_path: str, purpose: str):
    """Advisory exclusive lock serializing WRITERS of a streaming
    state root (r14 ADVICE item): a draining stream's partial writes
    and a compaction's whole-root swap (streaming/compaction.py) must
    not overlap — a batch partial committed between compaction's fold
    read and its rename would be silently discarded, and the
    checkpoint never replays a committed batch. ``O_CREAT|O_EXCL`` is
    atomic on the local filesystems local mode runs on; the lock file
    carries ``pid purpose`` and a lock whose pid is DEAD is broken
    automatically (a crashed holder must not wedge the root — its
    on-disk state is already crash-safe by the staged-rename
    disciplines, so breaking the lock is always recoverable). NOT
    reentrant: a second same-pid acquisition raises too, because
    compact-inside-drain is exactly the overlap being forbidden.
    Stale-break has the classic advisory race (holder-check then
    unlink can remove a lock created in between) — acceptable for an
    advisory guard whose failure mode is the pre-lock status quo; an
    object-store deployment would use a lease/conditional-put
    service instead."""
    import os

    lock = state_path.rstrip("/") + ".lock"
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            holder = _live_lock_holder(state_path)
            if holder is not None:
                try:
                    with open(lock) as fh:
                        held_for = fh.read().split(None, 1)[1].strip()
                except (OSError, IndexError):
                    held_for = "?"
                raise RuntimeError(
                    f"state root {state_path} is locked by live pid "
                    f"{holder} ({held_for}): drains and compactions "
                    f"of one root must not overlap"
                )
            try:
                os.unlink(lock)  # holder is dead — break the stale lock
            except FileNotFoundError:
                pass
    try:
        os.write(fd, f"{os.getpid()} {purpose}".encode())
        os.close(fd)
        yield
    finally:
        try:
            os.unlink(lock)
        except FileNotFoundError:
            pass


def _atomic_swap_parquet(df: DataFrame, path: str) -> None:
    """Materialize ``df`` next to ``path`` and swap it in by renaming
    the old table ASIDE first: the only non-atomic window is between
    the two renames, and a crash there leaves path__old intact —
    recoverable state (restored by ``_recover_interrupted_swap`` at
    the top of every merge), unlike a rmtree-then-rename crash which
    loses fold state that checkpointed replay cannot rebuild (earlier
    batches never replay under availableNow)."""
    import os
    import shutil

    _recover_interrupted_swap(path)  # defense in depth; merge calls it too
    staged = path.rstrip("/") + "__staged"
    df.write.mode("overwrite").parquet(staged)
    aside = path.rstrip("/") + "__old"
    if os.path.exists(aside):
        shutil.rmtree(aside)
    if os.path.exists(path):
        os.rename(path, aside)
    os.rename(staged, path)
    if os.path.exists(aside):
        shutil.rmtree(aside)


def run_first_seen_sink(
    stream: DataFrame,
    path: str,
    checkpoint: str,
):
    """foreachBatch MIN-merge sink: fold each micro-batch's per-user
    minimum event day into a (user_id, day) parquet table. MIN is
    idempotent AND associative/commutative, so at-least-once replay
    and any micro-batch slicing converge to the same table — the
    strongest replay-safety class a fold can have (last-write-wins
    needs an order column; MIN needs nothing). The growth curve
    (plans/events.py::cumulative_unique_users) then derives from
    this dimension-sized table without rescanning the stream's
    history — the streaming twin of the batch first-seen groupBy.

    Scale note: each merge rewrites a table bounded by the USER
    dimension, not stream length (the run_upsert_sink argument);
    log-structured MERGE targets swap in without touching the fold.
    """
    spark = stream.sparkSession

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        fresh = (
            batch_df.select(
                "user_id",
                F.expr("unix_micros(ts) DIV 86400000000").alias("day"),
            )
            .groupBy("user_id")
            .agg(F.min("day").alias("day"))
        )
        import os

        _recover_interrupted_swap(path)
        # Branch on existence, NOT on a bare except: a transient or
        # corrupt read of an EXISTING table must raise (and let the
        # checkpointed batch retry), never silently replace the
        # accumulated first-seen state with only the current batch.
        if os.path.exists(path):
            current = spark.read.parquet(path)
            merged = (
                current.unionByName(fresh)
                .groupBy("user_id")
                .agg(F.min("day").alias("day"))
            )
        else:
            merged = fresh
        _atomic_swap_parquet(merged, path)

    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_growth_accounting_sink(
    stream: DataFrame,
    incidence_path: str,
    out_dir: str,
    checkpoint: str,
):
    """Streaming twin of the batch growth-accounting family: fold each
    micro-batch's distinct (user_id, day) into an activity-incidence
    parquet table (a SET-UNION fold — idempotent, associative,
    commutative, so at-least-once replay and any micro-batch slicing
    converge, the same replay-safety class as the first-seen MIN
    fold), then derive and publish

    - ``out_dir/daily_new_vs_returning`` — per day: actives, news
      (first-seen == day), returning (first-seen < day); first-seen is
      a MIN over the incidence, so no second state table is needed;
    - ``out_dir/wau_trailing_7d`` — per day: distinct users active in
      [day-6, day], the calendar-bounded range join of the batch
      entry (plans/events.py::wau_trailing_7d).

    After the stream drains, both outputs equal the batch entries on
    the same corpus — asserted by the stream≡batch tests.

    Scale note: state is the (user, active-day) incidence — bounded
    by users × calendar, not stream length; each publish recomputes
    the two calendar-sized outputs from that dimension table (the
    run_first_seen_sink argument). A MERGE-capable log-structured
    target swaps in without touching the fold.
    """
    spark = stream.sparkSession

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        import os

        _recover_interrupted_swap(incidence_path)
        fresh = batch_df.select(
            "user_id",
            F.expr("unix_micros(ts) DIV 86400000000").alias("day"),
        ).distinct()
        if os.path.exists(incidence_path):
            current = spark.read.parquet(incidence_path)
            merged = current.unionByName(fresh).distinct()
        else:
            merged = fresh
        _atomic_swap_parquet(merged, incidence_path)

        du = spark.read.parquet(incidence_path)
        first = du.groupBy("user_id").agg(F.min("day").alias("first_day"))
        nvr = (
            du.join(first, "user_id")
            .groupBy("day")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_active"),
                F.sum((F.col("day") == F.col("first_day")).cast("int"))
                .cast("long")
                .alias("n_new"),
                F.sum((F.col("day") > F.col("first_day")).cast("int"))
                .cast("long")
                .alias("n_returning"),
            )
        )
        _atomic_swap_parquet(
            nvr, os.path.join(out_dir, "daily_new_vs_returning")
        )
        days = du.select(F.col("day").alias("d")).distinct()
        wau = (
            du.join(
                F.broadcast(days),  # calendar-bounded side
                (F.col("day") <= F.col("d"))
                & (F.col("day") >= F.col("d") - 6),
            )
            .groupBy("d")
            .agg(F.countDistinct("user_id").alias("wau"))
            .select(
                F.col("d").alias("day"),
                F.col("wau").cast("long").alias("wau"),
            )
        )
        _atomic_swap_parquet(wau, os.path.join(out_dir, "wau_trailing_7d"))

    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_monthly_rollup_sink(
    stream: DataFrame,
    state_path: str,
    out_path: str,
    checkpoint: str,
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
):
    """Streaming twin of the batch IVM rollup
    (plans/tpch.py::incremental_daily_rollup): fold each
    micro-batch's per-month (COUNT, exact-decimal SUM) partial into a
    state parquet by ADDITION — the counts-and-sums monoid — and
    publish the rounded monthly rollup after every merge.

    Addition is associative/commutative but NOT idempotent (unlike
    the first-seen MIN and set-union folds above), so at-least-once
    replay needs explicit de-duplication: the state carries a
    ``merged_through`` high-water batch id (foreachBatch ids are
    strictly increasing per checkpoint, and a crash re-delivers only
    the last id), and a batch at-or-below it is skipped — then
    REPUBLISHED, because the crash may have hit between the state
    swap and the publish. Consequence to document, not hide: the
    high-water mark makes replays of already-merged data no-ops even
    from a FRESH checkpoint (ids restart at 0), but new data appended
    under a fresh checkpoint would be skipped with it — growing the
    source requires keeping the original checkpoint, which is the
    exactly-once contract every additive streaming sink inherits.

    Scale note: state is month-cardinality (the rollup itself), the
    merge is a month-keyed aggregate of state ∪ batch-partial, and
    the 1-row high-water collect is bounded by construction. At
    100 TB the same shape holds: the partial aggregate rides the
    stream shuffle; the state side never exceeds the calendar."""
    spark = stream.sparkSession

    def publish(state: DataFrame) -> None:
        out = state.select(
            F.col("ym").cast("int").alias("ym"),
            F.col("n_orders").cast("long").alias("n_orders"),
            F.round(F.col("rev").cast("double"), 2).alias("revenue"),
        )
        _atomic_swap_parquet(out, out_path)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        import os

        _recover_interrupted_swap(state_path)
        prev = None
        if os.path.exists(state_path):
            state = spark.read.parquet(state_path)
            hw = state.agg(F.max("merged_through")).collect()[0][0]
            if hw is not None and batch_id <= hw:
                publish(state)
                return
            prev = state.select("ym", "n_orders", "rev")
        fresh = batch_df.groupBy(
            (
                F.year(date_col) * 100 + F.month(date_col)
            ).cast("long").alias("ym")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col(amount_col).cast("decimal(30,2)")).alias("rev"),
        )
        merged = (
            prev.unionByName(fresh)
            .groupBy("ym")
            .agg(
                F.sum("n_orders").cast("long").alias("n_orders"),
                F.sum("rev").cast("decimal(30,2)").alias("rev"),
            )
            if prev is not None
            else fresh
        )
        merged = merged.withColumn("merged_through", F.lit(int(batch_id)))
        _atomic_swap_parquet(merged, state_path)
        publish(spark.read.parquet(state_path))

    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
