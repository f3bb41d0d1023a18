"""Bucketed interval (range) join: events -> containing time windows.

The reference library has no temporal operators (pure tile math,
/root/reference/src/tms.rs); this is the range flavor of SURVEY.md
§2.B.3 that `asof_join` (latest-at-or-before, exactly one match) does
not cover: attribute every left row to EVERY interval that contains it
— ad/campaign attribution, maintenance/error windows, session overlap.

Scale design — manufacture an equi-key, never a theta join:

    left:      _b = floor(epoch(ts) / width)            (exactly one)
    intervals: explode sequence(floor(start/w), floor(end/w)) as _b
    join on ([keys] + _b), residual  start <= ts < end

A pure range predicate gives Catalyst NO equality conjunct, so the plan
degenerates to BroadcastNestedLoopJoin — O(|L|·|I|) comparisons, fatal
at 100 TB (with per-key equality it is a SortMergeJoin whose per-key
candidate set is still every interval of that key). The bucket column
manufactures the equality conjunct: the optimizer picks a hash join on
(keys, _b), cost O(|L| + Σ buckets-per-interval + candidate pairs),
and candidates are only rows within one `width` of an interval. Each
left row lives in EXACTLY one bucket, so containment matches are found
exactly once — no post-join distinct (an interval spanning k buckets
meets each contained event in just the event's own bucket).

Width tunes the classic space/selectivity tradeoff: width ≈ median
interval length keeps the explode factor ~2 while keeping buckets
selective. Hot buckets (skewed event times) are spread by the `on`
keys; a small exploded interval side is broadcast (see interval_join).

`max_buckets_per_interval` is the explode budget: a malformed interval
(year-long window at 1s width) would fan out unboundedly, so the bound
is enforced executor-side with raise_error — same guard philosophy as
the kNN pair budget (operators/knn.py).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BROADCAST_MAX_ROWS = 100_000  # exploded interval rows that still broadcast


def _bucket(ts: Column, width_sec: int) -> Column:
    # timestamp -> fractional epoch seconds -> floor-div to a bucket.
    # NTZ inputs route via timestamp_ltz (NTZ has no direct double cast);
    # the session-TZ offset this introduces is harmless: the bucket is an
    # internal equi-key computed with the SAME cast on both join sides,
    # and the visible semantics come from the residual range predicate
    # on the raw timestamps.
    return F.floor(
        ts.cast("timestamp_ltz").cast("double") / F.lit(float(width_sec))
    ).cast("long")


def interval_join(
    left: DataFrame,
    intervals: DataFrame,
    left_ts: str,
    start: str,
    end: str,
    on: Sequence[str] = (),
    width_sec: int = 3600,
    max_buckets_per_interval: int = 100_000,
) -> DataFrame:
    """Inner-join each left row to every interval containing its
    timestamp: `start <= left_ts < end` (half-open, so back-to-back
    windows never double-attribute a boundary event), plus equality on
    the optional `on` keys (present in both frames).

    Returns all left columns + all interval columns except the helper
    bucket. Intervals with `end <= start` match nothing (dropped — an
    empty half-open range contains no point, same as the oracle's
    range predicate). Column names must not collide across the two
    frames apart from the `on` keys (raises otherwise).

    The common attribution shape is a HUGE event table against a tiny
    window table — there, shuffling the events on the bucket key is the
    whole cost, and broadcasting the exploded interval side turns the
    plan into a BroadcastHashJoin with ZERO left-side exchange. A capped
    count probe of the EXPLODED rows decides (`limit(cap+1).count()` —
    LocalLimit short-circuits the scan, so the probe is O(cap), never a
    full pass): at most BROADCAST_MAX_ROWS bucket rows -> broadcast,
    otherwise no hint (the planner's own size estimate decides, a
    shuffled join on (keys, _b) for large sides). Probing the exploded
    rows, not the intervals, bounds what is actually broadcast: each
    interval explodes to up to `max_buckets_per_interval` rows."""
    overlap = (set(left.columns) & set(intervals.columns)) - set(on)
    if overlap:
        raise ValueError(
            f"interval_join: column collision outside `on`: {sorted(overlap)}"
        )
    width_sec = int(width_sec)
    if width_sec <= 0:
        raise ValueError("interval_join: width_sec must be positive")

    l = left.withColumn("_b", _bucket(F.col(left_ts), width_sec))
    bs = _bucket(F.col(start), width_sec)
    be = _bucket(F.col(end), width_sec)
    guard = F.assert_true(
        be - bs < F.lit(max_buckets_per_interval),
        F.concat(
            F.lit("interval_join: interval spans >= "),
            F.lit(str(max_buckets_per_interval)),
            F.lit(f" buckets at width_sec={width_sec} — widen width_sec"),
        ),
    )
    # the budget assert must live INSIDE the sequence bound — a separate
    # projected-then-dropped column would be pruned by Catalyst and never
    # evaluated. assert_true yields NULL on success, so coalesce folds it
    # into a no-op term; least/greatest guards the sequence direction
    # (Spark sequence() DESCENDS when start > stop — CLAUDE.md).
    be_guarded = be + F.coalesce(guard.cast("long"), F.lit(0))
    i = intervals.filter(F.col(end) > F.col(start)).withColumn(
        "_b",
        F.explode(F.sequence(F.least(bs, be_guarded), F.greatest(bs, be_guarded))),
    )
    # explicit frame aliases: when both inputs derive from the same
    # source (events attributed to event-derived windows), bare df[col]
    # references resolve to the SAME attribute and the key equality
    # silently degenerates to a trivially-true predicate
    l = l.alias("_ij_l")
    i = i.alias("_ij_r")
    # probe the EXPLODED rows a broadcast ships, each interval clipped
    # at cap+1 buckets: the same verdict as counting `i`, but nothing
    # fans out past the cap and the explode budget still fires in `i`
    probe = intervals.filter(F.col(end) > F.col(start)).select(
        F.explode(F.sequence(bs, F.least(be, bs + BROADCAST_MAX_ROWS)))
    )
    if probe.limit(BROADCAST_MAX_ROWS + 1).count() <= BROADCAST_MAX_ROWS:
        i = F.broadcast(i)
    lc = lambda c: F.col(f"_ij_l.`{c}`")  # noqa: E731
    rc = lambda c: F.col(f"_ij_r.`{c}`")  # noqa: E731
    cond = lc("_b") == rc("_b")
    for k in on:
        cond = cond & (lc(k) == rc(k))
    cond = cond & (lc(left_ts) >= rc(start)) & (lc(left_ts) < rc(end))
    joined = l.join(i, on=cond, how="inner")
    keep = [lc(c) for c in left.columns]
    keep += [rc(c) for c in intervals.columns if c not in on]
    return joined.select(*keep)
