"""Repeater fidelity twin — the reference's ``RepeatDoFn`` with EXACT
per-interval re-emission times (RepeatDoFn.scala:48-120, used by
AdEventFixedWindowWithRepeaterEnricher.scala to keep a slowly-changing
dimension "hot" inside every fixed window).

The data-equivalence replacement for the repeater is the time-range
stream-stream join (streaming/join_stream.py:2-18 — SURVEY §4 calls the
repeater unnecessary in Spark for ENRICHMENT, and the verdicts carried
that as a documented delta because the emission TIMES were not
reproduced). This module closes that delta: a keyed stateful operator
that reproduces the reference's emission schedule exactly, oracle-gated
per (key, emission_time, emitted element).

Reference semantics (RepeatDoFn.scala):

- per-key state: ``cache`` (last element written) + ``lastSeen`` (its
  timestamp) + one EVENT-TIME timer;
- processElement(t, e): if cache is EMPTY → emit (e, t) immediately and
  set the timer to t + interval; always cache = e, lastSeen = t (an
  element arriving while the chain is live does NOT emit and does NOT
  reset the timer grid — the next tick simply re-emits the newer
  element);
- onTimer(T): emit (cache, T) FIRST, then if T < lastSeen + ttl set the
  timer to T + interval else CLEAR the state (the death tick still
  emits); a later element finds the cache empty and starts a new chain
  anchored at its own timestamp.

Determinism contract (same as every order-sensitive corpus entry): the
replay delivers elements in (event_time, event_id) order — the staging
reader proves file order from parquet footer stats or falls back to a
single batch (streaming/entries.py:read_events_stream_flushed) — and a
timer at T fires after every element with ts <= T is processed. Under
that contract the whole schedule is a pure function of the data:

- chain anchors: the key's first element; then, after each chain death
  at tick D, the first element with ts > D;
- the tick grid of a chain anchored at a is a + k*interval (k >= 1);
- a chain dies at the FIRST grid point T with NO element in
  (T - ttl, T]  (equivalent to lastSeen + ttl <= T);
- tick T emits the element with max (ts, event_id) in [a, T].

The oracle below reproduces exactly this with a recursive CTE over
CHAINS (not ticks — chains per key are few) + a generate_series tick
expansion, so the streaming output is value-compared per emission row.

Scale notes (100 TB): one shuffle on the hashed key into state-store
partitions; per-key state is FOUR SCALARS (next tick, cached element
id/ts/value) — the bounded-state discipline of RepeatDoFn.scala:52-58
— and eager in-order tick firing means the state never buffers
elements. The per-key machine below is run by the shared bucketed
driver (streaming/keyed_state.py); chains all die within ttl of the
last element, so the drain ends with zero state rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from example_beam_spark.registry import register
from example_beam_spark.streaming.keyed_state import keyed_state_stream

REPEAT_INTERVAL_SECS = 12 * 3600
REPEAT_TTL_SECS = 36 * 3600
_I_US = REPEAT_INTERVAL_SECS * 1_000_000
_TTL_US = REPEAT_TTL_SECS * 1_000_000

OUT_SCHEMA = (
    "user_id long, emit_ts timestamp, src_event_id long, src_ts timestamp, "
    "value double, kind string"
)


def _on_rows(user_id: int, rows, ent, wm_ms: int):
    """The RepeatDoFn state machine for ONE user: process ``rows``
    ((ts_us, event_id, value) in (ts, event_id) order), firing every
    grid point strictly before each element (final under in-order
    delivery — all later elements have ts >= t), then fire the grid
    points the watermark has passed (final even with no element behind
    them: elements with ts < wm would be late-dropped; a ts == wm
    straggler keeps the strict '<' honest). State: (next_tick, cache_t,
    cache_id, cache_val) — RepeatDoFn's CacheKey + LastSeenKey collapsed
    (lastSeen IS cache_t) — or None once the chain died. The deadline is
    the next tick in ms: ``next_tick // 1000 < wm_ms`` exactly when the
    watermark has passed the tick."""
    wm_us = wm_ms * 1000
    out = []
    alive = ent is not None
    next_tick = cache_t = cache_id = cache_val = None
    if alive:
        next_tick, cache_t, cache_id, cache_val = ent

    for t, eid, val in rows:
        if alive:
            while next_tick < t:
                out.append((user_id, next_tick, cache_id, cache_t, cache_val, "repeat"))
                if next_tick < cache_t + _TTL_US:
                    next_tick += _I_US
                else:
                    alive = False  # death tick emitted, state cleared
                    break
        if not alive:
            out.append((user_id, t, eid, t, val, "initial"))
            next_tick = t + _I_US
            alive = True
        cache_t, cache_id, cache_val = t, eid, val

    if alive:
        while next_tick < wm_us:
            out.append((user_id, next_tick, cache_id, cache_t, cache_val, "repeat"))
            if next_tick < cache_t + _TTL_US:
                next_tick += _I_US
            else:
                alive = False
                break

    if not alive:
        return None, None, out
    return (next_tick, cache_t, cache_id, cache_val), next_tick // 1000, out


def _on_timer(user_id: int, ent, wm_ms: int):
    return _on_rows(user_id, (), ent, wm_ms)


def repeat_latest_stream(elements: DataFrame) -> DataFrame:
    """RepeatDoFn over a keyed element stream: ``elements`` needs
    (user_id, event_time, event_id, value) + a watermark."""
    return keyed_state_stream(
        elements,
        key_cols=("user_id",),
        row_cols=("event_time", "event_id", "value"),
        order_by=("event_time", "event_id", "value"),
        on_rows=_on_rows,
        on_timer=_on_timer,
        out_schema=OUT_SCHEMA,
    )


_REPEAT_ORACLE = f"""
    WITH RECURSIVE
    ev AS (
        SELECT user_id, epoch_us(ts) AS et, event_id, value
        FROM events WHERE event_type = 'signup'
    ),
    ks AS (SELECT k FROM generate_series(1, 2000) AS g(k)),
    firsts AS (
        SELECT user_id, et, event_id FROM (
            SELECT user_id, et, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY et, event_id) AS rn
            FROM ev
        ) WHERE rn = 1
    ),
    chains(user_id, a_t, a_id, death) AS (
        SELECT user_id, et, event_id,
               (SELECT MIN(f.et + ks.k * {_I_US}) FROM ks
                WHERE NOT EXISTS (
                    SELECT 1 FROM ev e WHERE e.user_id = f.user_id
                      AND e.et > f.et + ks.k * {_I_US} - {_TTL_US}
                      AND e.et <= f.et + ks.k * {_I_US}))
        FROM firsts f
        UNION ALL
        SELECT c.user_id, nx.et, nx.event_id,
               (SELECT MIN(nx.et + ks.k * {_I_US}) FROM ks
                WHERE NOT EXISTS (
                    SELECT 1 FROM ev e WHERE e.user_id = c.user_id
                      AND e.et > nx.et + ks.k * {_I_US} - {_TTL_US}
                      AND e.et <= nx.et + ks.k * {_I_US}))
        FROM chains c
        JOIN LATERAL (
            SELECT e.et, e.event_id FROM ev e
            WHERE e.user_id = c.user_id AND e.et > c.death
            ORDER BY e.et, e.event_id LIMIT 1
        ) nx ON TRUE
    ),
    -- a chain alive past the ks grid would make its death subquery
    -- MIN over an empty set = NULL, silently dropping its ticks AND
    -- every successor chain (the recursive join e.et > c.death never
    -- matches NULL); fail LOUDLY instead — the grid is 2000 intervals,
    -- far past any fixture/lane chain lifetime (chains die within ttl
    -- of their last element)
    chains_ok AS (
        SELECT user_id, a_t, a_id,
               CASE WHEN death IS NULL THEN CAST(error(
                        'repeat oracle: chain alive past the 2000-interval '
                        || 'tick grid — raise the ks bound') AS BIGINT)
                    ELSE death END AS death
        FROM chains
    ),
    initials AS (
        SELECT c.user_id, c.a_t AS emit_us, e.event_id AS src_event_id,
               e.et AS src_us, e.value, 'initial' AS kind
        FROM chains_ok c JOIN ev e
          ON e.user_id = c.user_id AND e.event_id = c.a_id
    ),
    ticks AS (
        SELECT c.user_id, c.a_t, c.a_t + ks.k * {_I_US} AS tick_us
        FROM chains_ok c JOIN ks ON c.a_t + ks.k * {_I_US} <= c.death
    ),
    tick_src AS (
        SELECT user_id, tick_us AS emit_us, event_id AS src_event_id,
               et AS src_us, value, 'repeat' AS kind
        FROM (
            SELECT tk.user_id, tk.tick_us, e.event_id, e.et, e.value,
                   ROW_NUMBER() OVER (PARTITION BY tk.user_id, tk.tick_us
                                      ORDER BY e.et DESC, e.event_id DESC
                   ) AS rn
            FROM ticks tk JOIN ev e
              ON e.user_id = tk.user_id AND e.et >= tk.a_t
             AND e.et <= tk.tick_us
        ) WHERE rn = 1
    )
    SELECT user_id, make_timestamp(emit_us) AS emit_ts, src_event_id,
           make_timestamp(src_us) AS src_ts, value, kind
    FROM (SELECT * FROM initials UNION ALL SELECT * FROM tick_src)
"""


@register("enrich_repeat_stream", oracle=_REPEAT_ORACLE, headline=True)
def enrich_repeat_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RepeatDoFn fidelity twin as a REAL streaming job over the corpus's
    signup stream (key = user_id, interval 12 h, ttl 36 h — sparse
    enough that chains die and restart, exercising every branch of
    RepeatDoFn.scala:60-114): every initial AND per-interval re-emission
    with its exact emission timestamp, value-compared against the
    recursive chain oracle."""
    from example_beam_spark.streaming.entries import (
        read_events_stream_flushed,
        run_to_append,
    )

    # light Python-stateful drain (4 scalars/key, trivial kernel): store
    # machinery dominates like the JVM-stateful drains, and the r10
    # tuning matrix measured 8 store instances at 5.7 s vs 6.4 s at 32
    # (tools/drain_tuning.py --entries enrich_repeat_stream; rows agree
    # across all cells) — unlike the heavy custom-window kernel, which
    # needs all cores
    ev = read_events_stream_flushed(
        spark,
        sf_dir,
        shuffle_partitions=min(8, spark.sparkContext.defaultParallelism),
    ).withColumnRenamed("ts", "event_time")
    ev = ev.withWatermark("event_time", "1 hour")
    # drop sentinels AFTER the watermark node (unsplittable CASE predicate)
    elements = ev.filter(
        F.when(F.col("event_type") == "signup", F.col("event_time")).isNotNull()
    ).select("user_id", "event_time", "event_id", "value")
    return run_to_append(repeat_latest_stream(elements), spark)
