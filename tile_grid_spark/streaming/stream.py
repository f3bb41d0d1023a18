"""Structured Streaming surface.

The reference has no streaming (SURVEY §2.B.10); the north rule asks for
resumable batch, not streams. This module exists because the engine's
tile-assignment projections are STATELESS column expressions, so they run
unchanged under readStream — plus a watermarked per-tile windowed count,
the hypertable-style rollup continuously maintained.

Local testing uses the rate source; production swaps in kafka/iceberg CDC
behind the same transformations.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.tms import Tms
from ..functions.grid_cols import with_tile


def synthetic_point_stream(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Rate-source stream with deterministic synthetic lon/lat (same
    integer-arithmetic recipe as the batch oracle queries)."""
    rate = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    return rate.select(
        F.col("timestamp").alias("ts"),
        F.col("value").alias("point_id"),
        (((F.col("value") * 9973) % 360000) / 1000.0 - 180.0).alias("lon"),
        (((F.col("value") * 7919) % 170000) / 1000.0 - 85.0).alias("lat"),
    )


def stream_tile_assign(points: DataFrame, tms: Tms, zoom: int) -> DataFrame:
    """Stateless tile assignment — identical Column plan as batch."""
    return with_tile(points, tms, zoom)


def stream_tile_counts(
    points: DataFrame,
    tms: Tms,
    zoom: int,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked tumbling-window per-tile counts (late data beyond the
    watermark is dropped; output mode append/update both valid)."""
    assigned = stream_tile_assign(points, tms, zoom)
    return (
        assigned.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "tile_x", "tile_y")
        .agg(F.count("*").alias("n_points"))
        .select(
            F.col("w.start").alias("window_start"),
            "tile_x",
            "tile_y",
            "n_points",
        )
    )


def stream_tile_running_totals(
    points: DataFrame,
    tms: Tms,
    zoom: int,
    timeout_minutes: int = 30,
) -> DataFrame:
    """Custom STATEFUL streaming operator via applyInPandasWithState:
    per-tile running totals (count + last-seen timestamp) maintained across
    micro-batches in GroupState; state idles out after `timeout_minutes`.

    This is the engine's template for custom stateful ops the built-in
    windowed aggregates can't express (e.g. sessionization per tile)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    assigned = stream_tile_assign(points, tms, zoom)

    out_schema = "tile_x BIGINT, tile_y BIGINT, total BIGINT, batches INT"
    state_schema = "total BIGINT, batches INT"

    def update(key, pdfs, state: GroupState):
        total, batches = state.get if state.exists else (0, 0)
        n = 0
        for pdf in pdfs:
            n += len(pdf)
        total += n
        batches += 1
        state.update((total, batches))
        state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame(
            {"tile_x": [key[0]], "tile_y": [key[1]], "total": [total], "batches": [batches]}
        )

    return (
        assigned.groupBy("tile_x", "tile_y")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def stream_sessionize(
    events: DataFrame,
    key: str = "point_id",
    ts_col: str = "ts",
    gap_sec: int = 1800,
    watermark: str = "10 seconds",
    evict_sec: int = 86400,
) -> DataFrame:
    """Custom stateful streaming sessionization (applyInPandasWithState):
    the streaming counterpart of the batch user_sessions window plan.
    Per key, GroupState carries (session_start, last_ts, n_events,
    n_sessions, max_dur); a batch whose earliest event is > gap_sec
    after last_ts closes the session and starts a new one. Emits the
    running session stats per key each micro-batch (update mode).

    Timeouts are EVENT-TIME: a key whose last event is > gap_sec behind
    the watermark gets its open session CLOSED (closed=true row) when
    the WATERMARK passes, not when wall-clock does — so replaying the
    same input produces the same sessions as the batch plan, which a
    ProcessingTimeTimeout cannot guarantee. Closing does NOT drop the
    counters: later events for the key keep accumulating
    n_sessions/n_events exactly like the batch fold. State is only
    EVICTED (forgotten) once the watermark passes last_ts + evict_sec —
    the explicit, bounded trade-off between batch-identical running
    totals and unbounded state on an infinite keyspace.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{key} BIGINT, n_sessions INT, n_events BIGINT, "
        "session_start_epoch BIGINT, last_epoch BIGINT, "
        "max_dur_sec BIGINT, closed BOOLEAN"
    )
    state_schema = "start_e BIGINT, last_e BIGINT, n_ev BIGINT, n_sess INT, max_dur BIGINT"

    def _row(k, n_sess, n_ev, start_e, last_e, max_dur, closed):
        cur = max_dur if start_e is None else max(max_dur, last_e - start_e)
        return pd.DataFrame(
            {
                key: [k[0]],
                "n_sessions": [n_sess],
                "n_events": [n_ev],
                "session_start_epoch": [start_e],
                "last_epoch": [last_e],
                "max_dur_sec": [cur],
                "closed": [closed],
            }
        )

    def update(k, pdfs, state: GroupState):
        if state.hasTimedOut:
            start_e, last_e, n_ev, n_sess, max_dur = state.get
            wm_sec = state.getCurrentWatermarkMs() // 1000
            if wm_sec >= last_e + evict_sec:
                state.remove()  # beyond the eviction horizon: forget
            else:
                # session is closed but counters survive so a returning
                # key continues batch-identically; re-arm for eviction
                state.setTimeoutTimestamp(
                    max((last_e + evict_sec) * 1000, state.getCurrentWatermarkMs() + 1)
                )
            yield _row(k, n_sess, n_ev, start_e, last_e, max_dur, True)
            return
        start_e, last_e, n_ev, n_sess, max_dur = (
            state.get if state.exists else (None, None, 0, 0, 0)
        )
        # _epoch_s is computed JVM-side (cast timestamp->long = true
        # UTC epoch); converting the naive pandas datetime here would
        # shift by the session-timezone offset under non-UTC sessions
        es = pd.concat([p["_epoch_s"] for p in pdfs]).sort_values().to_numpy()
        for e in es:
            if last_e is None or e - last_e > gap_sec:
                if last_e is not None:
                    max_dur = max(max_dur, last_e - start_e)
                n_sess += 1
                start_e = int(e)
            last_e = int(e)
            n_ev += 1
        state.update((start_e, last_e, n_ev, n_sess, max_dur))
        # event-time timeout: fire when the watermark passes the session
        # gap (must stay strictly above the current watermark)
        state.setTimeoutTimestamp(
            max((last_e + gap_sec) * 1000, state.getCurrentWatermarkMs() + 1)
        )
        yield _row(k, n_sess, n_ev, start_e, last_e, max_dur, False)

    from pyspark.sql import functions as _F

    events = events.withColumn("_epoch_s", _F.col(ts_col).cast("long"))
    return events.withWatermark(ts_col, watermark).groupBy(key).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_rect_contains(
    points: DataFrame,
    rects: DataFrame,
    tms: Tms,
    zoom: int,
    **kwargs,
) -> DataFrame:
    """Stream-STATIC spatial join: streaming points x static rectangle
    layer through the same cover-prefilter + wrap-aware exact test as
    the batch operator (operators/pip_join.rect_contains_join — the
    cover explode and dedup run on the STATIC side only, so the
    streaming side stays stateless and append mode needs no watermark).
    Antimeridian-crossing rectangles work exactly as in batch."""
    from ..operators.pip_join import rect_contains_join

    return rect_contains_join(points, rects, tms, zoom, **kwargs)


def stream_dedup(
    points: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup: first occurrence per key wins; duplicate
    state is bounded by the event-time watermark (state for keys older
    than the watermark is dropped — without this, dedup state grows
    without bound on an infinite stream). Batch counterpart:
    operators/dedup.dedup_exact.
    """
    keys = keys or ["point_id"]
    return points.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def exactly_once_batch_committer(log, stage: str = "stream", out_root: str | None = None):
    """foreachBatch function with IDEMPOTENT commits by micro-batch id.

    Structured Streaming gives at-least-once foreachBatch delivery: a
    batch in flight during a crash is REPLAYED after restart with the
    SAME batch_id. Writing each batch through plans/lineage.run_stage
    (write to _tmp with the fingerprint observed on the write -> atomic
    rename -> lineage row) makes the replay a no-op — the unit
    `batch-<id>` is already recorded complete, so the second delivery
    skips. At-least-once delivery +
    idempotent commit = exactly-once OUTPUT, with the same per-partition
    lineage/metrics audit trail as the batch pipeline.
    """
    from ..plans.lineage import run_stage

    def commit(bdf: DataFrame, batch_id: int) -> None:
        run_stage(
            bdf.sparkSession,
            log,
            stage,
            [f"batch-{batch_id}"],
            lambda _unit: bdf,
            out_root=out_root,
        )

    return commit


def write_stream_exactly_once(
    df: DataFrame,
    out_root: str,
    checkpoint_dir: str,
    stage: str = "stream",
    query_name: str = "tgs_exactly_once",
    available_now: bool = True,
):
    """Start a streaming query whose parquet output is exactly-once
    (lineage-idempotent foreachBatch; see exactly_once_batch_committer).
    Source progress checkpoints to `checkpoint_dir` (Spark's offset log);
    output commits are audited in `<out_root>/_lineage`. Returns the
    query handle (caller awaits/stops)."""
    from ..plans.lineage import LineageLog

    log = LineageLog(df.sparkSession, out_root)
    w = (
        df.writeStream.foreachBatch(
            exactly_once_batch_committer(log, stage, os.path.join(out_root, stage))
        )
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def _recover_store(store_path: str) -> None:
    """Undo a store swap that a crash cut between its two renames: the
    live directory is gone and `<store>.old` holds the previous store.
    Rename `.old` back, so the replayed batch merges into the previous
    store — safe because both store merges are idempotent. A stale
    `.tmp` needs no cleanup: _swap_store overwrites it."""
    old = store_path + ".old"
    if not os.path.isdir(store_path) and os.path.isdir(old):
        os.rename(old, store_path)


def _swap_store(store_path: str, df: DataFrame) -> None:
    """Write `df` in full to `<store>.tmp`, then swap it live: rename
    live -> `.old`, `.tmp` -> live, delete `.old`. A crash at any point
    leaves a complete live store or a complete `.old` one
    (_recover_store restores it), never a half-written store."""
    tmp = store_path + ".tmp"
    old = store_path + ".old"
    df.write.mode("overwrite").parquet(tmp)  # materialized BEFORE swap
    if os.path.isdir(old):
        shutil.rmtree(old)
    if os.path.isdir(store_path):
        os.rename(store_path, old)
    os.rename(tmp, store_path)
    if os.path.isdir(old):
        shutil.rmtree(old)


def refresh_tile_store(
    store_path: str,
    updates: DataFrame,
    key_cols,
    version_col: str,
) -> None:
    """Merge a batch of per-key updates latest-wins into a parquet
    store (sources/io.upsert_latest — union + one key shuffle + top-1,
    no join). The merged result is FULLY written to `<store>.tmp`
    before the live directory is swapped (_swap_store), so a crash
    never leaves a half-written store; the previous store survives as
    `<store>.old` until the swap completes, and a refresh that finds
    only `.old` (a crash between the swap's renames) restores it before
    merging (_recover_store). At 100 TB this exact plan runs underneath
    a table format's MERGE INTO with partition pruning bounding the
    rewritten span — the full-rewrite swap here is the format-free
    equivalent, correct at any size, optimal only when updates touch
    most partitions."""
    from ..sources.io import upsert_latest

    spark = updates.sparkSession
    _recover_store(store_path)
    if os.path.isdir(store_path):
        current = spark.read.parquet(store_path)
        merged = upsert_latest(current, updates, key_cols, version_col)
    else:
        merged = upsert_latest(
            spark.createDataFrame([], updates.schema), updates, key_cols, version_col
        )
    _swap_store(store_path, merged)


def stream_tile_store_refresh(
    updates: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    key_cols=("zoom", "tile_x", "tile_y"),
    version_col: str = "window_end",
    query_name: str = "tgs_tile_store",
    available_now: bool = True,
):
    """Streaming materialized-view maintenance: each micro-batch of
    per-tile aggregates (outputMode update — only CHANGED keys arrive)
    merges latest-wins into the parquet tile store. Idempotent under
    foreachBatch's at-least-once replay: re-merging the same batch
    writes the same winners (upsert_latest ties resolve to the updates
    side deterministically), so a crash-replayed batch is a no-op on
    the store contents. Returns the started query handle."""

    def commit(bdf: DataFrame, batch_id: int) -> None:
        refresh_tile_store(store_path, bdf, key_cols, version_col)

    w = (
        updates.writeStream.outputMode("update")
        .foreachBatch(commit)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def refresh_mvt_store(
    store_path: str,
    points: DataFrame,
    tms: Tms,
    zoom: int,
    id_col: str = "pid",
    attr_cols: tuple = (),
) -> None:
    """Upsert a batch of points BY FEATURE ID into a parquet store of
    point-MVT tile binaries (operators/vector_tiles.upsert_point_tiles,
    tags included; the batch wins fid collisions, so a point update
    re-renders its tile) and swap the result live (_swap_store). The
    first batch builds the store. Only the tiles the batch touches are
    decoded and re-encoded; the others are copied as stored bytes, but
    the parquet store itself is still rewritten in full. Replaying the
    same batch reproduces identical bytes — the idempotence the
    streaming wrapper relies on — and a refresh that finds only
    `<store>.old` (a crash between the swap's renames) restores it
    first (_recover_store), so the replay merges into the previous
    store. Same full-rewrite caveat as refresh_tile_store: a table
    format bounds the rewritten span with partition pruning at 100 TB;
    the swap here is the format-free equivalent."""
    from ..operators.vector_tiles import upsert_point_tiles

    spark = points.sparkSession
    _recover_store(store_path)
    old = spark.read.parquet(store_path) if os.path.isdir(store_path) else None
    merged = upsert_point_tiles(
        old, points, tms, zoom, id_col=id_col, attr_cols=tuple(attr_cols)
    )
    if old is not None:
        # untouched tiles keep their scan partitions: hold the file count
        # at the live store's, or every refresh would add a file
        merged = merged.coalesce(max(1, len(old.inputFiles())))
    _swap_store(store_path, merged)


def stream_mvt_store_refresh(
    points: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    tms: Tms,
    zoom: int,
    id_col: str = "pid",
    attr_cols: tuple = (),
    query_name: str = "tgs_mvt_store",
    available_now: bool = True,
):
    """Streaming maintenance of the SERVED artifact itself: each
    micro-batch of (id, lon, lat[, attrs]) points re-encodes exactly
    the vector tiles it touches (refresh_mvt_store; untouched tiles are
    copied as stored bytes, the parquet store is rewritten in full) and
    swaps the result into the live store. Append-mode source,
    foreachBatch sink; idempotent under at-least-once replay because
    the tile merge is keyed by feature id, and a batch replayed after a
    crash between the swap's renames merges into the restored previous
    store. Returns the started query handle."""

    def commit(bdf: DataFrame, batch_id: int) -> None:
        refresh_mvt_store(
            store_path, bdf, tms, zoom, id_col=id_col, attr_cols=attr_cols
        )

    w = (
        points.writeStream.outputMode("append")
        .foreachBatch(commit)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def run_to_memory_sink(counts: DataFrame, query_name: str = "tile_counts"):
    """Test helper: run the streaming aggregate into an in-memory sink
    on a 1-second trigger. Returns the query handle (callers poll the
    sink and stop the query themselves — no timeout knob here).
    Exactly ONE trigger kind may be set — passing availableNow=False
    alongside processingTime counts as two and raises in pyspark 4."""
    q = (
        counts.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("update")
        .trigger(processingTime="1 second")
        .start()
    )
    return q


def stream_staypoints(
    fixes: DataFrame,
    user: str = "user_id",
    ts_col: str = "ts",
    lon: str = "lon",
    lat: str = "lat",
    radius_m: float = 100.0,
    watermark: str = "10 seconds",
    close_gap_sec: int = 3600,
) -> DataFrame:
    """Streaming twin of operators/staypoint.staypoints
    (applyInPandasWithState): per user, GroupState carries the OPEN
    dwell segment (running count/centroid sums/time span + the last
    fix); within a micro-batch fixes sort by event time and extend the
    segment while each step stays within `radius_m`, else the segment
    CLOSES (emitted with closed=true) and a new one opens — identical
    break semantics to the batch lag-window fold, so a replay of a
    finite input yields the batch op's segments (pytest-gated).

    Emission is update-mode: every batch re-emits the open segment's
    running stats (closed=false) and any segments closed in the batch
    (closed=true); consumers take the last row per (user, seg_id) and
    apply their own min_points/min_duration policy — the batch
    operator's filters are a POLICY, the streaming op must not drop
    rows it could still be asked about. An EVENT-TIME timeout closes a
    user's open segment once the watermark passes last_fix +
    `close_gap_sec` and then forgets the key (bounded state); a user
    returning later restarts segment numbering — the documented
    eviction trade-off, same as stream_sessionize's evict_sec.
    """
    import math as _math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{user} BIGINT, seg_id INT, n_points BIGINT, t_start_s BIGINT, "
        "t_end_s BIGINT, duration_s BIGINT, ctr_lon DOUBLE, ctr_lat DOUBLE, "
        "closed BOOLEAN"
    )
    state_schema = (
        "seg INT, n BIGINT, sum_lon DOUBLE, sum_lat DOUBLE, start_e BIGINT, "
        "last_e BIGINT, last_lon DOUBLE, last_lat DOUBLE"
    )
    m_per_deg = 111320.0

    def _dist(lon1, lat1, lon2, lat2):
        dx = (lon2 - lon1) * _math.cos(_math.radians((lat1 + lat2) / 2.0))
        dy = lat2 - lat1
        return _math.sqrt(dx * dx + dy * dy) * m_per_deg

    def _row(k, seg, n, sl, sa, se, le, closed):
        return {
            user: k[0],
            "seg_id": seg,
            "n_points": n,
            "t_start_s": se,
            "t_end_s": le,
            "duration_s": le - se,
            "ctr_lon": round(sl / n, 6),
            "ctr_lat": round(sa / n, 6),
            "closed": closed,
        }

    def update(k, pdfs, state: GroupState):
        if state.hasTimedOut:
            seg, n, sl, sa, se, le, _llon, _llat = state.get
            state.remove()
            if n > 0:
                yield pd.DataFrame([_row(k, seg, n, sl, sa, se, le, True)])
            return
        seg, n, sl, sa, se, le, llon, llat = (
            state.get if state.exists else (0, 0, 0.0, 0.0, 0, 0, 0.0, 0.0)
        )
        pdf = pd.concat(list(pdfs))
        pdf = pdf.sort_values(ts_col, kind="stable")
        # JVM-computed epoch (cast timestamp->long): session-timezone
        # independent, unlike a naive datetime64 view (ADVICE r4)
        es = pdf["_epoch_s"].to_numpy()
        xs = pdf[lon].to_numpy(dtype="float64")
        ys = pdf[lat].to_numpy(dtype="float64")
        out = []
        for e, x, y in zip(es, xs, ys):
            if n > 0 and _dist(llon, llat, x, y) > radius_m:
                out.append(_row(k, seg, n, sl, sa, se, le, True))
                n = 0
            if n == 0:
                seg += 1
                n, sl, sa, se = 1, float(x), float(y), int(e)
            else:
                n += 1
                sl += float(x)
                sa += float(y)
            le = int(e)
            llon, llat = float(x), float(y)
        state.update((seg, n, sl, sa, se, le, llon, llat))
        state.setTimeoutTimestamp(
            max((le + close_gap_sec) * 1000, state.getCurrentWatermarkMs() + 1)
        )
        out.append(_row(k, seg, n, sl, sa, se, le, False))
        yield pd.DataFrame(out)

    from pyspark.sql import functions as _F

    fixes = fixes.withColumn("_epoch_s", _F.col(ts_col).cast("long"))
    return (
        fixes.withWatermark(ts_col, watermark)
        .groupBy(user)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_trips(
    staypoints: DataFrame,
    tms: "object",
    zoom: int,
    user: str = "user_id",
    seg: str = "seg_id",
    t_start: str = "t_start_s",
    t_end: str = "t_end_s",
    lon: str = "ctr_lon",
    lat: str = "ctr_lat",
    watermark_col: str = "ts",
    watermark: str = "10 seconds",
    evict_sec: int = 7 * 86400,
) -> DataFrame:
    """Streaming OD trip extraction — the streaming twin of
    operators/staypoint.od_flows' lead step: consumes a stream of
    CLOSED stay-point rows (stream_staypoints closed=true output, or
    any (user, seg, span, centroid) feed with an event-time column) and
    links each user's consecutive dwells into trips, snapping endpoints
    to engine grid tiles at `zoom` with the bit-exact core scalar math
    (core/tms.tile — the same assignment the batch Column path
    produces, so streamed trips aggregate to od_flows' matrix;
    pytest-gated).

    GroupState per user holds only the LAST dwell (start, end,
    centroid); each batch sorts its rows by (t_start, seg) and chains
    from the held dwell, emitting one row per trip — exactly once per
    consecutive pair, since a dwell participates as trip-origin the
    moment its successor arrives and never again. Event-time timeout
    EVICTS users quiet past `evict_sec` (bounded state; a returning
    user's first dwell then starts a fresh chain — the documented
    trade-off, same as stream_staypoints).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{user} BIGINT, from_seg INT, to_seg INT, "
        "from_x BIGINT, from_y BIGINT, to_x BIGINT, to_y BIGINT, "
        "depart_s BIGINT, travel_s BIGINT"
    )
    state_schema = "seg INT, start_e BIGINT, end_e BIGINT, lo DOUBLE, la DOUBLE"

    def update(k, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        pdf = pd.concat(list(pdfs)).sort_values([t_start, seg], kind="stable")
        if pdf.empty:
            return
        held = state.get if state.exists else None
        out = []
        for r in pdf.itertuples(index=False):
            cur = (
                int(getattr(r, seg)),
                int(getattr(r, t_start)),
                int(getattr(r, t_end)),
                float(getattr(r, lon)),
                float(getattr(r, lat)),
            )
            if held is not None:
                f = tms.tile(held[3], held[4], zoom)
                t = tms.tile(cur[3], cur[4], zoom)
                out.append(
                    {
                        user: k[0],
                        "from_seg": held[0],
                        "to_seg": cur[0],
                        "from_x": f.x,
                        "from_y": f.y,
                        "to_x": t.x,
                        "to_y": t.y,
                        "depart_s": held[2],
                        "travel_s": cur[1] - held[2],
                    }
                )
            held = cur
        state.update(held)
        state.setTimeoutTimestamp(
            max((held[2] + evict_sec) * 1000, state.getCurrentWatermarkMs() + 1)
        )
        if out:
            yield pd.DataFrame(out)

    return (
        staypoints.withWatermark(watermark_col, watermark)
        .groupBy(user)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def refresh_hotspot_count_store(
    store_path: str,
    batch_points: DataFrame,
    tms: Tms,
    zoom: int,
    batch_id: int,
    lon: str = "lon",
    lat: str = "lat",
) -> None:
    """Merge ONE micro-batch's per-tile counts into a parquet count
    store keyed (tile_x, tile_y, batch_id): an at-least-once replayed
    batch recomputes the IDENTICAL rows for the identical key and the
    latest-wins merge rewrites them in place — a no-op on store
    contents, the same idempotence contract as refresh_tile_store. The
    Gi* significance layer is DERIVED from the store by
    hotspot_layer(), never maintained incrementally: the statistic is
    global (every tile's z-score shifts when the corpus mean/variance
    shift), so the store holds only the additive integers and the
    layer recomputes from exact sums — which is what makes the
    replay-equals-batch gate bit-exact."""
    counts = (
        with_tile(
            batch_points.select(F.col(lon).alias("lon"), F.col(lat).alias("lat")),
            tms,
            zoom,
        )
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("x"))
        .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
        .withColumn("_rev", F.lit(0).cast("long"))
    )
    refresh_tile_store(
        store_path,
        counts,
        key_cols=("tile_x", "tile_y", "batch_id"),
        version_col="_rev",
    )


def stream_hotspot_refresh(
    points: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    tms: Tms,
    zoom: int,
    lon: str = "lon",
    lat: str = "lat",
    query_name: str = "tgs_hotspot_store",
    available_now: bool = True,
):
    """Streaming maintenance of the hot-spot count store: each
    micro-batch of raw points folds into the per-(tile, batch) count
    store via refresh_hotspot_count_store (foreachBatch, idempotent
    under replay). Read the significance layer at any time with
    hotspot_layer(). Returns the started query handle."""

    def commit(bdf: DataFrame, batch_id: int) -> None:
        refresh_hotspot_count_store(
            store_path, bdf, tms, zoom, batch_id, lon=lon, lat=lat
        )

    w = (
        points.writeStream.outputMode("append")
        .foreachBatch(commit)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def hotspot_layer(
    spark: SparkSession, store_path: str, tms: Tms, zoom: int
) -> DataFrame:
    """The Gi* significance layer over everything streamed so far:
    exact integer sums per tile from the count store, then
    operators/hotspot.gi_star_from_counts — bit-identical to running
    the batch operator over the union of all streamed points (gated by
    TestStreamHotspot.test_replay_equals_batch)."""
    from ..operators.hotspot import gi_star_from_counts

    store = spark.read.parquet(store_path)
    counts = store.groupBy("tile_x", "tile_y").agg(F.sum("x").alias("x"))
    return gi_star_from_counts(counts, tms, zoom)
