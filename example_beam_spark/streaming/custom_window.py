"""Custom merging ad-event window (W5) — the reference's data-driven
asymmetric window (AdEventWindow.scala + AdEventWindowFn.scala +
AdCtrCustomWindowCalculator.scala), re-expressed as a keyed stateful
operator (Beam merges windows inside GroupByKey via WindowFn.mergeWindows;
Spark has no user-definable merging WindowFn, so the merge lives in
``applyInPandasWithState`` — SURVEY.md §7.3).

Window assignment (AdEventWindow.scala:70-83, AdEventWindowFn.scala:18-26),
per (screen_id, ad_id) — both directions are FORWARD:

- impression at t → [t, t + impression_duration)  (waits forward for clicks)
- click at t      → [t, t + click_duration)       (waits forward for its
  impression; ``forClick`` is ``timestamp.plus(duration).minus(1)`` exactly
  like ``forImpression``)

Merge (AdEventWindow.scala:19-51 + AdEventWindowFn.scala:28-37): Beam's
``mergeWindows`` groups windows by (screenId, adId) and reduces ALL of them
— there is NO overlap test; every window of a key that is still live (not
yet closed by the watermark) merges. Pairwise rule: start = min(starts);
end = max(starts) when either side is a click (a click — or any event
merging after one — pins the end to the latest participating event time,
giving the pattern its low latency, README.md:82), else max(ends).
Net effect: a session-like window that closes when the watermark passes
its end; impressions extend the end to their ts + duration, clicks cap it
at the latest event time.

Lateness (AdCtrCustomWindowCalculator.scala:22-31, ACCUMULATING_FIRED_PANES
+ late firings per element): when the watermark passes the window end the
on-time pane fires; for ``allowed_lateness_secs`` afterwards the window
state is retained, late events merge in and immediately re-fire the
ACCUMULATED pane (AdCtrCustomWindowCalculatorTest.scala:72-95 expects 0.0
on time then 1.0 late for the same window).

Emission: one capped AdCtr per pane (clicks=min(1,·), impressions=min(1,·)
— AdCtrCappedSemigroup, model.scala:88-98) with window_start/window_end.
``window_end`` uses exclusive-end convention (reference stores end − 1 ms
and emits at maxTimestamp = end; we report the round value — a documented
+1 ms delta; click-pinned ends are exact event times in both).

Scale notes: one shuffle on the hashed (screen_id, ad_id) into
StateStore partitions; state per key = one open window (a handful of
scalars); the timer GC bounds state exactly like Beam's window GC. The
per-key state machine below is run by the shared bucketed driver
(streaming/keyed_state.py: many keys per state group, emulated per-key
event-time timer); pane-by-pane behaviour is pinned by the replay
scenarios in tests/test_stateful.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from example_beam_spark.streaming.keyed_state import keyed_state_stream

OUT_SCHEMA = (
    "screen_id string, ad_id string, clicks long, impressions long, ctr double, "
    "window_start timestamp, window_end timestamp"
)


def _pane(key: tuple, st: tuple) -> tuple:
    """One capped AdCtr row for window state ``st`` (times in µs)."""
    w_start, w_end, n_clicks, n_imps = st[:4]
    clicks = min(1, n_clicks)
    imps = min(1, n_imps)
    ctr = clicks / imps if imps > 0 else None
    return (key[0], key[1], clicks, imps, ctr, w_start, w_end)


def make_ad_event_window_kernel(
    impression_secs: int, click_secs: int, allowed_lateness_secs: int = 0
):
    """``(on_rows, on_timer)`` of the merging window for ONE
    (screen_id, ad_id) key. State: (w_start_us, w_end_us, n_clicks,
    n_impressions, has_click, fired); rows: (event_time_us, action) in
    (event_time, clicks-before-impressions) order."""
    imp_us = impression_secs * 1_000_000
    click_us = click_secs * 1_000_000
    lateness_ms = allowed_lateness_secs * 1000

    def on_rows(key, rows, st, wm):
        late_fire = False
        for ts, action in rows:
            is_click = action == "click"
            e = ts + (click_us if is_click else imp_us)
            if st is None:
                st = (ts, e, int(is_click), int(not is_click), is_click, False)
                continue
            # unconditional live-window merge (AdEventWindowFn.scala:28-37)
            w_start, w_end, n_clicks, n_imps, has_click, fired = st
            if has_click or is_click:
                new_end = max(w_start, ts)  # click pins end to latest start
            else:
                new_end = max(w_end, e)
            st = (
                min(w_start, ts),
                new_end,
                n_clicks + int(is_click),
                n_imps + int(not is_click),
                has_click or is_click,
                fired,
            )
            late_fire = late_fire or fired
        # accumulating late pane, fired per element batch
        # (AfterProcessingTime.pastFirstElementInPane analog)
        out = [_pane(key, st)] if late_fire else []
        horizon = st[1] // 1000 + (lateness_ms if st[5] else 0)
        # Fire when the watermark passes the window's maxTimestamp. A
        # timer fires only when watermark > deadline, and the reference's
        # maxTimestamp is end − 1 ms (AdEventWindow.scala:53,
        # forImpression/forClick store duration − 1 ms) — so the deadline
        # is horizon − 1 ms: a watermark reaching the round end closes
        # the window, exactly like Beam.
        return st, max(horizon - 1, wm + 1), out

    def on_timer(key, st, wm):
        if st[5]:  # lateness horizon passed — GC (late panes fired per element)
            return None, None, []
        out = [_pane(key, st)]  # on-time pane: watermark passed the window end
        end_ms = st[1] // 1000
        if lateness_ms > 0 and wm < end_ms + lateness_ms:
            # keep the window open for late (accumulating) firings
            return (*st[:5], True), max(end_ms + lateness_ms - 1, wm + 1), out
        return None, None, out

    return on_rows, on_timer


def ad_ctr_custom_window_stream(
    ad_events: DataFrame,
    impression_duration_secs: int = 600,
    click_duration_secs: int = 60,
    allowed_lateness_secs: int = 0,
) -> DataFrame:
    """CTR per (screen_id, ad_id) in the custom merging window — the
    streaming equivalent of AdCtrCustomWindowCalculator.calculateCtrByScreen.
    ``ad_events`` needs (screen_id, ad_id, action, event_time) + watermark.

    Rows whose action is neither 'click' nor 'impression' are dropped
    before the state operator: AdEventWindowFn assigns 'unknown' no
    window, so such a row must neither open, extend nor hold back a
    window. The filter is a CASE predicate on the event time so Catalyst
    keeps it above the watermark node (the dropped rows still advance the
    watermark, as every source element does in Beam)."""
    on_rows, on_timer = make_ad_event_window_kernel(
        impression_duration_secs, click_duration_secs, allowed_lateness_secs
    )
    windowed = ad_events.filter(
        F.when(
            F.col("action").isin("click", "impression"), F.col("event_time")
        ).isNotNull()
    )
    return keyed_state_stream(
        windowed,
        key_cols=("screen_id", "ad_id"),
        row_cols=("event_time", "action"),
        # deterministic within-batch order: event time, then clicks
        # before impressions at equal times ('click' < 'impression')
        order_by=("event_time", "action"),
        on_rows=on_rows,
        on_timer=on_timer,
        out_schema=OUT_SCHEMA,
    )
