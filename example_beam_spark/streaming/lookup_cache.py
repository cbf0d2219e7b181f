"""Stateful lookup-cache enrichment join — the Spark re-expression of the
reference's global-window keyed-state join
(ScreenGlobalWindowWithLookupCacheEnricher.scala:24-63 +
LookupCacheDoFn.scala:49-211), via ``applyInPandasWithState``.

Semantics reproduced (cites into LookupCacheDoFn.scala):
- latest-wins publication cache per key (:132-161) — a newer event-time
  dim row replaces the cached one; equal timestamps tie-break on the
  larger version payload (the reference leaves this undefined; its
  equal-ts tests are @ignored — Test.scala:94-112);
- facts (screens) matching a cached dim emit immediately (:94-104);
- early facts (no dim yet) are buffered (BagState analog: a list in
  state) and flushed when a dim arrives (:96-99, 162-173);
- GC timer at max-seen-event-time + TTL (:71-75, 190-210 with
  MaxInstantFn.scala): on expiry, buffered facts flush to the DLQ side
  and the cache clears (:112-130). Spark's event-time timeout plays the
  timer; the watermark plays the Beam watermark.

Output rows carry ``match_status`` ('matched' | 'dlq') — the DLQ fork is
a downstream filter (the reference's side output, P6).

Scale notes: one shuffle on the hashed join key into the StateStore
partitions; state per key = cached dim + buffered early facts (bounded
by TTL eviction). This is exactly the Beam plan (cogroup shuffle → keyed
DoFn with state+timers), with Spark managing state snapshots/recovery.
The per-key state machine below is run by the shared bucketed driver
(streaming/keyed_state.py: many keys per state group, emulated per-key
event-time timer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from example_beam_spark.streaming.keyed_state import keyed_state_stream

# union-row kind tags
KIND_FACT = 0
KIND_DIM = 1

OUT_SCHEMA = (
    "key string, fact_id string, fact_time timestamp, "
    "dim_version string, dim_time timestamp, match_status string"
)


def make_lookup_cache_kernel(ttl_seconds: int):
    """``(on_rows, on_timer)`` of the lookup cache for ONE join key.
    State: (dim_version, dim_time_us, buffered fact ids, buffered fact
    times, max_seen_us); rows: (event_time_us, kind, payload) in
    (event_time, dims-before-facts, payload) order."""
    ttl_us = ttl_seconds * 1_000_000

    def on_rows(key, rows, st, wm):
        dim_version, dim_time, buf_ids, buf_times, max_seen = st or (
            None, None, (), (), None,
        )
        buf_ids, buf_times = list(buf_ids), list(buf_times)
        out = []
        for ts, kind, payload in rows:
            max_seen = ts if max_seen is None or ts > max_seen else max_seen
            if kind == KIND_DIM:
                # latest-wins cache update (:132-161)
                if (
                    dim_time is None
                    or ts > dim_time
                    or (ts == dim_time and str(payload) > str(dim_version))
                ):
                    dim_version, dim_time = payload, ts
                # flush buffered early facts (:162-173)
                out += [
                    (key, fid, fts, dim_version, dim_time, "matched")
                    for fid, fts in zip(buf_ids, buf_times)
                ]
                buf_ids, buf_times = [], []
            elif dim_time is not None and ts - dim_time <= ttl_us:
                out.append((key, payload, ts, dim_version, dim_time, "matched"))
            else:  # early fact: buffer until a dim arrives or the GC fires
                buf_ids.append(payload)
                buf_times.append(ts)
        # GC timer reset to max-seen + TTL (:190-210, MaxInstantFn)
        deadline = max((max_seen + ttl_us) // 1000, wm + 1)
        return (dim_version, dim_time, buf_ids, buf_times, max_seen), deadline, out

    def on_timer(key, st, wm):
        # GC timer fired (:112-130): flush buffered facts to DLQ, clear cache
        return None, None, [
            (key, fid, fts, None, None, "dlq") for fid, fts in zip(st[2], st[3])
        ]

    return on_rows, on_timer


def lookup_cache_join_stream(union_stream: DataFrame, ttl_seconds: int) -> DataFrame:
    """Apply the stateful join to a pre-unioned keyed stream with columns
    (key string, kind int {0=fact,1=dim}, payload string, event_time
    timestamp) — the analog of the reference's cogroup input
    (LookupCacheDoFn.scala:34). The stream must already carry a watermark
    (it drives both late-row drop and the GC timeout)."""
    on_rows, on_timer = make_lookup_cache_kernel(ttl_seconds)
    return keyed_state_stream(
        union_stream,
        key_cols=("key",),
        row_cols=("event_time", "kind", "payload"),
        # deterministic replay order: event time, then dims before facts,
        # then payload (the micro-batch may contain both sides unordered)
        order_by=("event_time", "kind", "payload"),
        on_rows=on_rows,
        on_timer=on_timer,
        out_schema=OUT_SCHEMA,
    )
