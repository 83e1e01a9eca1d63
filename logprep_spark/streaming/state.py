"""Custom stateful streaming operators.

Two state strategies, chosen per op:
- built-in state (``dropDuplicatesWithinWatermark``) when Spark
  already has the semantics — state store managed by the engine;
- ``applyInPandasWithState`` (Arrow-batched, grouped state) when the
  semantics are genuinely custom (running totals with per-key
  timeout). Per-key state is a tiny tuple, so state store pressure is
  bounded by cardinality, not traffic.

Every custom operator goes through two helpers:
- :func:`_apply_state` is the one ``applyInPandasWithState`` wiring
  (group, update output mode, timeout);
- :func:`_window_stream` is the one event-time window state machine
  the ``*_window_stream`` sketch and forecast twins share: fold each
  batch into the window's state, time out at the window end, emit the
  final row and drop the state. A twin supplies only its keyed
  projection, its fold and its emit. The Bloom and Count-Min twins
  hash with ``sketch.bloom_positions`` / ``sketch.cm_cells`` and the
  theta and sample-quantile twins with ``dedup.h60``, the very
  expressions of their batch sketches, so batch/stream parity comes
  from shared code.
"""

from __future__ import annotations

from typing import Any, Callable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _apply_state(
    df: DataFrame,
    keys: list[str],
    fn: Callable[..., Iterator[pd.DataFrame]],
    out_schema: str,
    state_schema: str,
    timeout: str = GroupStateTimeout.NoTimeout,
) -> DataFrame:
    """Group ``df`` on ``keys`` and run ``fn(key, pdfs, state)`` per
    group and micro-batch, emitting in update mode."""
    return df.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=timeout,
    )


def dedupe_stream(
    events: DataFrame,
    keys: list[str],
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming twin of the reference deduplicator applied across
    events: keep the first event per key within the watermark horizon.
    Built-in stateful op — state evicted at the watermark, so memory
    is bounded no matter the stream length."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


_TOTALS_SCHEMA = "user_id long, n_events long, sum_value double"
_STATE_SCHEMA = "n long, s double"


def _totals_fn(
    key: Tuple[Any], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, s = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        s += float(pdf["value"].sum())
    state.update((n, s))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_value": [s]})


def running_totals(events: DataFrame, timeout: str = "NoTimeout") -> DataFrame:
    """Per-user running (count, sum) maintained across micro-batches —
    the ``applyInPandasWithState`` pattern for operators Spark's
    built-ins can't express. Emits one updated row per key per batch."""
    return _apply_state(
        events,
        ["user_id"],
        _totals_fn,
        _TOTALS_SCHEMA,
        _STATE_SCHEMA,
        getattr(GroupStateTimeout, timeout, GroupStateTimeout.NoTimeout),
    )


def dedupe_near_stream(
    docs: DataFrame,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming NEAR-duplicate suppression: drop documents whose full
    MinHash signature matches an earlier document's within the
    watermark horizon (signature-identical ⇒ Jaccard ≈ 1, i.e.
    boilerplate/reposts). The signature stage is the same zero-shuffle
    narrow map as batch (functions/dedup.py minhash_signature_df), so
    it composes with streaming state directly; state is one
    fingerprint per distinct doc, evicted at the watermark.

    Exact-match-on-signature is deliberately the streaming semantics:
    the batch LSH band self-join needs the full corpus on both sides
    and belongs in a periodic batch pass — the stream pass catches the
    (dominant) signature-identical duplicates with bounded state.
    """
    from logprep_spark.functions.dedup import (
        MERSENNE_P,
        NUM_PERM,
        PERM_A,
        PERM_B,
        h60,
        shingles_of,
    )
    from logprep_spark.functions.text import tokens

    # same staged-projection discipline as minhash_signature_df (each
    # derived array in its OWN select so Catalyst neither re-inlines
    # nor re-derives it), but keeping the doc columns alongside —
    # a join of the stream to its own signature would be a
    # stream-stream join; this stays one narrow projection chain.
    staged = (
        docs.withColumn("_toks", tokens(F.col(text_col)))
        .withColumn("_sh", shingles_of(F.col("_toks")))
        .withColumn("_hb", F.transform("_sh", lambda s: h60(s) % MERSENNE_P))
    )
    def perm(i: int):
        # closure factory, NOT default-arg binding: transform inspects
        # lambda arity and would feed the element INDEX into a defaulted
        # second parameter
        a, b = PERM_A[i], PERM_B[i]
        return lambda x: (F.lit(a) * x + F.lit(b)) % MERSENNE_P

    mins = [
        F.array_min(F.transform("_hb", perm(i))).cast("string") for i in range(NUM_PERM)
    ]
    keyed = staged.withColumn("_sig_fp", F.md5(F.concat_ws("-", *mins)))
    return (
        keyed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_sig_fp"])
        .drop("_sig_fp", "_toks", "_sh", "_hb")
    )


_HH_OUT_SCHEMA = "bucket long, item string, count_lb long"
_HH_STATE_SCHEMA = "items array<string>, counts array<long>"


def heavy_hitters_stream(
    events: DataFrame,
    item_col: str,
    n_buckets: int = 16,
    k: int = 8,
) -> DataFrame:
    """Streaming hot-item tracking with CARDINALITY-BOUNDED state —
    the streaming twin of functions/sketch.py heavy_hitters. Grouping
    by the item itself would grow state with distinct-item count;
    instead items hash into ``n_buckets`` groups and each group's
    state is a Misra-Gries summary of at most ``k - 1`` counters, so
    total state is n_buckets * (k-1) rows no matter the stream.

    Per batch each bucket re-emits its surviving candidates with
    their LOWER-BOUND counts (MG undercounts by at most
    n_bucket_items / k). The exact-verify phase of the batch op has
    no streaming analogue — candidates are the product here, feeding
    either an alert sink or a periodic batch verification pass.
    """

    def fn(
        key: Tuple[Any], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            items, counts = state.get
            counters = dict(zip(items, counts))
        else:
            counters = {}
        for pdf in pdfs:
            for item in pdf[item_col]:
                if item is None:
                    continue
                if item in counters:
                    counters[item] += 1
                elif len(counters) < k - 1:
                    counters[item] = 1
                else:
                    dead = []
                    for ckey in counters:
                        counters[ckey] -= 1
                        if counters[ckey] == 0:
                            dead.append(ckey)
                    for ckey in dead:
                        del counters[ckey]
        state.update((list(counters.keys()), list(counters.values())))
        yield pd.DataFrame(
            {
                "bucket": [key[0]] * len(counters),
                "item": list(counters.keys()),
                "count_lb": list(counters.values()),
            }
        )

    bucketed = events.withColumn(
        "_b", F.pmod(F.xxhash64(F.col(item_col)), F.lit(n_buckets))
    )
    return _apply_state(bucketed, ["_b"], fn, _HH_OUT_SCHEMA, _HH_STATE_SCHEMA)


_ANOM_OUT_SCHEMA = (
    "key string, batch_count long, n_prior long, "
    "mean_prior_milli long, z_milli long, is_anomaly boolean"
)
_ANOM_STATE_SCHEMA = "n long, mean double, m2 double"

_Z_SENTINEL_MILLI = 9_999_999


def rate_anomaly_stream(
    events: DataFrame,
    key_col: str,
    z_threshold: float = 3.0,
    min_periods: int = 3,
) -> DataFrame:
    """Streaming rate anomaly detection: per key, the event count of
    each micro-batch is z-scored against the running mean/variance of
    PRIOR batches (Welford update — numerically stable, O(1) state).
    With a fixed trigger interval a micro-batch is a fixed time
    window, so this is the "alert when a log source goes 3σ off its
    rate" monitor a shipping pipeline runs next to the indexer.

    State is three scalars per key (n, mean, M2) — bounded by key
    cardinality; for unbounded key spaces hash keys into buckets
    first (the :func:`heavy_hitters_stream` pattern). The decision
    uses the PRIOR stats, then folds the batch in, so a spike can't
    mask itself. σ = 0 with a deviating count emits the ±sentinel
    z (9_999_999 milli) rather than dividing by zero; the first
    ``min_periods`` batches only learn, never alert."""
    import math

    def fn(
        key: Tuple[Any], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, mean, m2 = state.get if state.exists else (0, 0.0, 0.0)
        x = 0
        for pdf in pdfs:
            x += len(pdf)
        if n >= 2:
            var = m2 / (n - 1)
            std = math.sqrt(var)
        else:
            std = 0.0
        if n >= min_periods:
            if std > 0.0:
                z = (x - mean) / std
                z_milli = int(round(z * 1000))
                if abs(z_milli) > _Z_SENTINEL_MILLI:
                    z_milli = int(math.copysign(_Z_SENTINEL_MILLI, z_milli))
                anomaly = abs(z) > z_threshold
            else:
                deviates = x != mean
                z_milli = _Z_SENTINEL_MILLI if x > mean else (
                    -_Z_SENTINEL_MILLI if x < mean else 0
                )
                anomaly = deviates
        else:
            z_milli = 0
            anomaly = False
        out = pd.DataFrame(
            {
                "key": [key[0]],
                "batch_count": [x],
                "n_prior": [n],
                "mean_prior_milli": [int(round(mean * 1000))],
                "z_milli": [z_milli],
                "is_anomaly": [anomaly],
            }
        )
        # Welford fold of the current batch AFTER the decision
        n += 1
        delta = x - mean
        mean += delta / n
        m2 += delta * (x - mean)
        state.update((n, float(mean), float(m2)))
        yield out

    return _apply_state(events, [key_col], fn, _ANOM_OUT_SCHEMA, _ANOM_STATE_SCHEMA)


_BUCKET_OUT_SCHEMA = (
    "user_id long, batch_events long, allowed long, dropped long, tokens_left double"
)
_BUCKET_STATE_SCHEMA = "tokens double, last_us long"


def _token_bucket_fn(capacity: float, refill_per_sec: float, ts_col: str):
    def fn(
        key: Tuple[Any], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        tokens, last_us = state.get if state.exists else (capacity, 0)
        n = allowed = 0
        # materialize the whole micro-batch BEFORE sorting: the
        # iterator yields Arrow-sized chunks, and sorting each chunk
        # independently would make refill/spend decisions depend on
        # chunk boundaries and partition arrival order — the batch
        # must replay in one global event-time order for
        # re-partitioned re-runs to make the same allow/drop calls
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            batch = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
            batch = batch.sort_values(ts_col, kind="mergesort")
            for t in batch[ts_col]:
                t_us = int(t.value // 1_000) if hasattr(t, "value") else int(t)
                if last_us:
                    tokens = min(
                        capacity, tokens + (t_us - last_us) / 1e6 * refill_per_sec
                    )
                last_us = max(last_us, t_us)
                n += 1
                if tokens >= 1.0:
                    tokens -= 1.0
                    allowed += 1
        state.update((float(tokens), int(last_us)))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "batch_events": [n],
                "allowed": [allowed],
                "dropped": [n - allowed],
                "tokens_left": [float(tokens)],
            }
        )

    return fn


def token_bucket_stream(
    events: DataFrame,
    capacity: float = 5.0,
    refill_per_sec: float = 1.0,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Per-key token-bucket rate limiting as a stateful streaming op —
    the cost-control primitive (per-tenant API quotas, alert
    throttling, log-volume caps) that A27's batch hash-order limiter
    cannot express because it needs STATE: each key carries
    (tokens, last_seen) across micro-batches, refilled in event time
    and spent one token per event; the per-batch report counts
    allowed vs dropped. State is a 2-field tuple per key — store
    pressure is key cardinality, not traffic. Events replay in event-
    time order inside each batch so re-partitioned re-runs make the
    same allow/drop decisions."""
    return _apply_state(
        events,
        [key_col],
        _token_bucket_fn(capacity, refill_per_sec, ts_col),
        _BUCKET_OUT_SCHEMA,
        _BUCKET_STATE_SCHEMA,
    )


_DUR_UNITS = {
    "second": 1, "seconds": 1,
    "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600,
    "day": 86400, "days": 86400,
}


def _duration_seconds(spec: str) -> int:
    n, unit = spec.strip().split()
    return int(n) * _DUR_UNITS[unit.lower()]


def _window_stream(
    keyed: DataFrame,
    keys: list[str],
    window: str,
    watermark: str,
    out_schema: str,
    state_schema: str,
    fold: Callable[[tuple | None, Iterator[pd.DataFrame]], tuple],
    emit: Callable[[tuple, tuple, bool], pd.DataFrame],
) -> DataFrame:
    """The event-time window state machine every ``*_window_stream``
    twin runs; a twin supplies only ``keyed``, ``fold`` and ``emit``.

    ``keyed`` is the twin's projection, grouped on ``keys`` (one of
    them ``win_start``, the window's start). The state of a group is
    an accumulator — a tuple of the ``state_schema`` fields — plus the
    window end. Per batch, ``fold(acc, pdfs)`` merges the group's rows
    into its accumulator (``acc`` is None for a new group), the state
    is updated, the event-time timeout is set to the window end and
    ``emit(key, acc, False)`` renders the running row(s). Once the
    watermark passes the window end the timeout fires: the group emits
    ``emit(key, acc, True)`` — its FINAL rows — and drops its state,
    so the store holds only OPEN windows, one accumulator each.

    The watermark is declared on ``win_start``: projecting
    window(ts).start strips the event-time tag from ts, so lateness is
    measured against window STARTS, which only shifts the horizon by
    one fixed window length (fold it into ``watermark`` if exact
    event-lateness semantics matter)."""
    window_ms = _duration_seconds(window) * 1000
    at = keys.index("win_start")

    def fn(
        key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            yield emit(key, state.get[:-1], True)
            state.remove()
            return
        acc = fold(state.get[:-1] if state.exists else None, pdfs)
        win_end_ms = int(key[at].value // 1_000_000) + window_ms
        state.update((*acc, win_end_ms))
        state.setTimeoutTimestamp(win_end_ms)
        yield emit(key, acc, False)

    return _apply_state(
        keyed.withWatermark("win_start", watermark),
        keys,
        fn,
        out_schema,
        f"{state_schema}, win_end_ms long",
        GroupStateTimeout.EventTimeTimeout,
    )


_THETA_OUT_SCHEMA = (
    "slice string, win_start timestamp, est_distinct double, "
    "n_kept long, is_final boolean, theta long, sample array<bigint>"
)

#: 60-bit hash space twin of functions/sketch.py
_THETA_H_MAX = 1 << 60


def theta_window_stream(
    events: DataFrame,
    ts_col: str = "ts",
    slice_col: str = "slice",
    value_col: str = "value",
    window: str = "10 minutes",
    watermark: str = "10 minutes",
    k: int = 64,
) -> DataFrame:
    """Streaming twin of functions/sketch.py theta_sketch_slices: a
    per-(window, slice) KMV/theta sketch maintained through the
    watermarked window state machine (:func:`_window_stream`; the L39
    HLL streaming twin's pattern, with the deterministic md5 family —
    ``dedup.h60``, hashed JVM-side exactly as the batch sketch does —
    instead of HLL++ so estimates are engine-exact and the EVICTED
    sketch rows are the stored artifact the batch union/intersection
    algebra (theta_union_range, theta_audience_overlap) consumes
    directly).

    State per open (window, slice) group is the k smallest 60-bit
    hashes — at most k longs, FIXED SIZE regardless of window traffic;
    eviction rides the event-time timeout (set to window end, fired
    once the watermark passes), which emits the window's FINAL sketch
    row (``is_final = true``) and removes the state. Per-batch update
    rows carry the running estimate for live dashboards.

    At 100 TB/day this is the shape that works: the stream never
    stores raw values, the state store holds (open windows x slices x
    k) longs, and closed windows land as mergeable sketch rows any
    later ad-hoc range query unions in O(k) per slice."""
    from logprep_spark.functions.dedup import h60

    keyed = events.select(
        F.col(slice_col).cast("string").alias("slice"),
        F.window(ts_col, window).start.alias("win_start"),
        # -1 marks a null value: its row still opens the group and
        # advances the watermark, but adds no hash (h60 >= 0)
        F.coalesce(h60(F.col(value_col).cast("string")), F.lit(-1)).alias("_h"),
    )

    def fold(acc, pdfs):
        hs = set(acc[0]) if acc else set()
        for pdf in pdfs:
            hs.update(int(h) for h in pdf["_h"] if h >= 0)
        return (sorted(hs)[:k],)

    def emit(key, acc, final):
        # rows carry the SKETCH itself (theta + retained sample), not
        # just the estimate: the final rows are the stored mergeable
        # artifact — exact-mode convention matches theta_sketch_slices
        # (theta = 2^60, sample = everything) so the union math is
        # interchangeable
        hashes = list(acc[0])
        n = len(hashes)
        if n < k:
            est, theta, sample = float(n), _THETA_H_MAX, hashes
        else:
            theta = hashes[k - 1]
            sample = hashes[: k - 1]
            est = round((k - 1) * float(_THETA_H_MAX) / theta, 2)
        return pd.DataFrame(
            {
                "slice": [key[0]],
                "win_start": [key[1]],
                "est_distinct": [est],
                "n_kept": [n],
                "is_final": [final],
                "theta": [theta],
                "sample": [sample],
            }
        )

    return _window_stream(
        keyed, ["slice", "win_start"], window, watermark,
        _THETA_OUT_SCHEMA, "hashes array<bigint>", fold, emit,
    )


_BLOOM_OUT_SCHEMA = (
    "win_start timestamp, shard int, pos long, is_final boolean"
)


def bloom_window_stream(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    window: str = "10 minutes",
    watermark: str = "10 minutes",
    m: int = 512,
    j: int = 3,
    n_shards: int = 4,
) -> DataFrame:
    """Streaming twin of functions/sketch.py bloom_bits: a per-window
    Bloom filter maintained through the watermarked window state
    machine (:func:`_window_stream`). Each event derives its j bit
    positions JVM-side with ``sketch.bloom_positions`` — the batch
    sketch's own hash — and the stream is keyed by ``(window, shard)``
    with ``shard = pos mod n_shards``, so one group's state is at
    most ceil(m / n_shards) distinct positions (FIXED SIZE regardless
    of traffic) and a hot window's bit-set spreads over n_shards tasks
    instead of funneling through one.

    Eviction rides the event-time timeout: when the watermark passes
    the window end, the group emits its FINAL ``(shard, pos)`` rows
    (``is_final = true``) and drops its state. The final rows ARE the
    mergeable artifact: their distinct union across shards equals the
    batch ``bloom_bits`` position frame of the window's values
    bit-for-bit, so closed windows union into stored batch filters by
    plain position-row distinct — and ``bloom_membership``-style
    probes (all j positions present) read the merged frame with NO
    false negatives ever. Per-batch update rows carry the running
    bit-set for live suppression checks.

    At 100 TB/day this is the shape that works: raw values are never
    stored, the state store holds (open windows x n_shards) groups of
    <= m/n_shards longs, and closed windows land as position rows any
    later membership probe joins against in O(m) per window."""
    from logprep_spark.functions.sketch import bloom_positions

    pos = F.explode(F.array(*bloom_positions(F.col(value_col), m, j)))
    keyed = (
        events.filter(F.col(value_col).isNotNull())
        .select(
            F.window(ts_col, window).start.alias("win_start"),
            pos.alias("_p"),
        )
        .withColumn("shard", F.pmod("_p", F.lit(n_shards)).cast("int"))
    )

    def fold(acc, pdfs):
        ps = set(acc[0]) if acc else set()
        for pdf in pdfs:
            ps.update(int(p) for p in pdf["_p"])
        return (sorted(ps),)

    def emit(key, acc, final):
        ps = sorted(acc[0])
        return pd.DataFrame(
            {
                "win_start": [key[0]] * len(ps),
                "shard": [key[1]] * len(ps),
                "pos": ps,
                "is_final": [final] * len(ps),
            }
        )

    return _window_stream(
        keyed, ["win_start", "shard"], window, watermark,
        _BLOOM_OUT_SCHEMA, "poss array<long>", fold, emit,
    )


_CM_OUT_SCHEMA = (
    "win_start timestamp, row int, col int, cnt long, is_final boolean"
)


def cm_window_stream(
    events: DataFrame,
    ts_col: str = "ts",
    item_col: str = "item",
    window: str = "10 minutes",
    watermark: str = "10 minutes",
    d: int = 3,
    w: int = 256,
) -> DataFrame:
    """Streaming twin of functions/sketch.py cm_sketch: a per-window
    Count-Min sketch maintained through the watermarked window state
    machine (:func:`_window_stream`). Each event derives its d
    ``(hash_row, col)`` cells JVM-side with ``sketch.cm_cells`` — the
    batch sketch's own hash — and the stream is keyed by ``(window,
    hash_row)`` — so one group's state is at most w counters (FIXED
    SIZE regardless of traffic) and the d rows of one window spread
    over d tasks instead of funneling the whole window through one.

    Eviction rides the event-time timeout: when the watermark passes
    the window end, the group emits its FINAL ``(row, col, cnt)``
    cells (``is_final = true``) and drops its state. The final rows
    are the mergeable artifact: cell-wise addition with any batch
    ``cm_sketch`` frame (or other windows) is the CM merge, and point
    estimates read min-over-d-rows exactly as in
    ``cm_point_estimates``. Per-batch update rows carry the running
    cells for live dashboards.

    At 100 TB/day this is the shape that works: raw items are never
    stored, the state store holds (open windows x d) groups of <= w
    longs, and closed windows land as sketch rows any later frequency
    query reads in O(d) per item."""
    from logprep_spark.functions.sketch import cm_cells

    cell = F.posexplode(
        F.array(*[c.cast("int") for c in cm_cells(F.col(item_col), d, w)])
    )
    keyed = events.filter(F.col(item_col).isNotNull()).select(
        F.window(ts_col, window).start.alias("win_start"),
        cell.alias("row", "_c"),
    )

    def fold(acc, pdfs):
        cells = dict(zip(*acc)) if acc else {}
        for pdf in pdfs:
            for c, n in pdf["_c"].value_counts().items():
                c = int(c)
                cells[c] = cells.get(c, 0) + int(n)
        cols = sorted(cells)
        return cols, [cells[c] for c in cols]

    def emit(key, acc, final):
        cols, cnts = acc
        return pd.DataFrame(
            {
                "win_start": [key[0]] * len(cols),
                "row": [key[1]] * len(cols),
                "col": list(cols),
                "cnt": list(cnts),
                "is_final": [final] * len(cols),
            }
        )

    return _window_stream(
        keyed, ["win_start", "row"], window, watermark,
        _CM_OUT_SCHEMA, "cols array<int>, cnts array<long>", fold, emit,
    )


_SQ_OUT_SCHEMA = (
    "slice string, win_start timestamp, n_rows long, n_kept long, "
    "is_final boolean, pool_h array<bigint>, pool_v array<double>"
)


def sq_window_stream(
    events: DataFrame,
    ts_col: str = "ts",
    slice_col: str = "slice",
    key_col: str = "key",
    value_col: str = "value",
    window: str = "10 minutes",
    watermark: str = "10 minutes",
    k: int = 256,
) -> DataFrame:
    """Streaming twin of functions/sketch.py sq_sketch_slices: a
    per-(window, slice) SAMPLE-QUANTILE sketch — the k rows with the
    smallest md5 row-key hashes, carried as (hash, value) pairs —
    maintained through the watermarked window state machine
    (:func:`_window_stream`; quantiles complete the streaming sketch
    family: theta/HLL cardinality, CM frequency, Bloom membership).

    Hashes derive JVM-side from the same md5 family as the batch
    build, and the bottom-k merge is order-free, so the EVICTED final
    rows are bit-identical to a batch ``sq_sketch_slices`` over the
    same window's rows — zip pool_h/pool_v into the (h, v) struct
    pool and ``sq_union_range`` answers ad-hoc range quantiles over
    closed windows without raw data. ``n_rows`` rides along exact.

    State per open (window, slice) group: k (long, double) pairs +
    one counter — FIXED SIZE at any traffic; eviction rides the
    event-time timeout (window end + watermark), emitting the final
    sketch row and removing the state. Update-mode rows carry the
    running pool for live dashboards."""
    from logprep_spark.functions.dedup import h60

    keyed = events.filter(
        F.col(key_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(slice_col).cast("string").alias("slice"),
        F.window(ts_col, window).start.alias("win_start"),
        h60(F.concat(F.lit("sq:"), F.col(key_col).cast("string"))).alias("_h"),
        F.col(value_col).cast("double").alias("_v"),
    )

    def fold(acc, pdfs):
        pairs = list(zip(acc[0], acc[1])) if acc else []
        n_rows = acc[2] if acc else 0
        for pdf in pdfs:
            pairs.extend(
                (int(h), float(v)) for h, v in zip(pdf["_h"], pdf["_v"])
            )
            n_rows += len(pdf)
        # bottom-k merge is order-free: the same pairs in any batch /
        # chunk order produce the same pool (the KMV determinism)
        pairs = sorted(pairs)[:k]
        return [h for h, _ in pairs], [v for _, v in pairs], n_rows

    def emit(key, acc, final):
        hs, vs, n_rows = acc
        return pd.DataFrame(
            {
                "slice": [key[0]],
                "win_start": [key[1]],
                "n_rows": [n_rows],
                "n_kept": [len(hs)],
                "is_final": [final],
                "pool_h": [list(hs)],
                "pool_v": [list(vs)],
            }
        )

    return _window_stream(
        keyed, ["slice", "win_start"], window, watermark, _SQ_OUT_SCHEMA,
        "hs array<bigint>, vs array<double>, n_rows long", fold, emit,
    )


def _tdiv(y: int, d: int) -> int:
    """Truncate-toward-zero integer division, the Catalyst folds'
    convention — int() on a positive-or-negative exact float would
    drift; use explicit sign handling."""
    q = abs(y) // d
    return q if y >= 0 else -q


def _period_stream(
    events: DataFrame,
    ts_col: str,
    group_col: str,
    window: str,
    period: str,
    watermark: str,
    out_schema: str,
    fold: Callable[[list[int]], dict[str, int]],
) -> DataFrame:
    """The holt / hw / cusum twins' shared body: per (group, window)
    the state is the window's PERIOD event counts (e.g. hourly counts
    inside a daily window) — at most windows/period counters, fixed
    size at any traffic. Every emit runs ``fold`` over the counts in
    period order and renders ``grp, win_start, n_periods``, the
    fold's columns, then ``is_final``.

    Determinism: counts accumulate order-free and the fold runs over
    the SORTED period array only at emit time, so the final row is
    bit-identical to the batch recurrence over the same rows'
    per-period series — any arrival order, chunking, or
    partitioning."""
    period_sec = _duration_seconds(period)
    # Catalyst rejects two window() expressions in one projection
    # ("cartesian product of rows"); the period bucket is plain
    # epoch arithmetic instead — same tumbling semantics
    keyed = events.select(
        F.col(group_col).cast("string").alias("grp"),
        F.window(ts_col, window).start.alias("win_start"),
        (
            (F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(F.col(ts_col)) % period_sec)
            * 1000
        ).alias("_p"),
    )

    def count(acc, pdfs):
        pc = dict(zip(*acc)) if acc else {}
        for pdf in pdfs:
            for p in pdf["_p"]:
                p = int(p)
                pc[p] = pc.get(p, 0) + 1
        ps = sorted(pc)
        return ps, [pc[p] for p in ps]

    def emit(key, acc, final):
        xs = list(acc[1])
        cols = {"grp": key[0], "win_start": key[1], "n_periods": len(xs)}
        cols.update(fold(xs), is_final=final)
        return pd.DataFrame({c: [v] for c, v in cols.items()})

    return _window_stream(
        keyed, ["grp", "win_start"], window, watermark, out_schema,
        "periods array<long>, counts array<long>", count, emit,
    )


_HOLT_OUT_SCHEMA = (
    "grp string, win_start timestamp, n_periods long, level_milli long, "
    "trend_milli long, forecast_milli long, max_resid_milli long, "
    "is_final boolean"
)


def _holt_fold(xs, a: int, b: int) -> dict[str, int]:
    """The batch recurrence (plans/analytics.py holt_forecast) in
    truncate-toward-zero integer milli division."""
    l, t, r = xs[0] * 1000, 0, 0
    for x in xs[1:]:
        resid = abs(x * 1000 - (l + t))
        l_new = _tdiv(a * x * 1000 + (1000 - a) * (l + t), 1000)
        t = _tdiv(b * (l_new - l) + (1000 - b) * t, 1000)
        l, r = l_new, max(r, resid)
    return {
        "level_milli": l,
        "trend_milli": t,
        "forecast_milli": l + t,
        "max_resid_milli": r,
    }


def holt_window_stream(
    events: DataFrame,
    ts_col: str = "ts",
    group_col: str = "grp",
    window: str = "1 day",
    period: str = "1 hour",
    watermark: str = "1 hour",
    alpha_milli: int = 300,
    beta_milli: int = 100,
) -> DataFrame:
    """Streaming twin of plans/analytics.py holt_forecast: per
    (group, window) the stream accumulates PERIOD event counts (e.g.
    hourly counts inside a daily window) and, when the watermark
    closes the window, emits the Holt level/trend state fitted over
    the ordered periods, the next-period forecast, and the largest
    one-step residual — trend-aware volume anomaly detection, the
    forecasting sibling of rate_anomaly_stream's static baseline.

    Determinism: counts accumulate order-free and the fold runs over
    the SORTED period array only at emit time, so the final row is
    bit-identical to the batch ``holt_forecast`` over the same rows'
    per-period series — any arrival order, chunking, or partitioning.

    State per open (group, window): at most windows/period counters
    (24 for hourly-in-daily) — fixed size at any traffic; eviction
    rides the event-time timeout. Update rows carry the running fit
    for live dashboards."""
    return _period_stream(
        events, ts_col, group_col, window, period, watermark, _HOLT_OUT_SCHEMA,
        lambda xs: _holt_fold(xs, alpha_milli, beta_milli),
    )


_HW_OUT_SCHEMA = (
    "grp string, win_start timestamp, n_periods long, level_milli long, "
    "trend_milli long, forecast_milli long, season_amp_milli long, "
    "max_resid_milli long, is_final boolean"
)


def _hw_fold(xs, a: int, b: int, g: int, p: int) -> dict[str, int]:
    """The batch recurrence (plans/analytics.py holt_winters_forecast):
    level + trend + p-slot additive season, truncate-toward-zero
    integer milli division — slot for the k-th ordered period is
    k mod p, zero-season init, identical to the Catalyst fold."""
    l, t, r, i = xs[0] * 1000, 0, 0, 0
    s = [0] * p
    for x in xs[1:]:
        i += 1
        sl = i % p
        resid = abs(x * 1000 - (l + t + s[sl]))
        ln = _tdiv(a * (x * 1000 - s[sl]) + (1000 - a) * (l + t), 1000)
        tn = _tdiv(b * (ln - l) + (1000 - b) * t, 1000)
        s[sl] = _tdiv(g * (x * 1000 - ln) + (1000 - g) * s[sl], 1000)
        l, t, r = ln, tn, max(r, resid)
    return {
        "level_milli": l,
        "trend_milli": t,
        "forecast_milli": l + t + s[(i + 1) % p],
        "season_amp_milli": max(s) - min(s),
        "max_resid_milli": r,
    }


def hw_window_stream(
    events: DataFrame,
    ts_col: str = "ts",
    group_col: str = "grp",
    window: str = "7 day",
    period: str = "1 day",
    watermark: str = "1 hour",
    season: int = 7,
    alpha_milli: int = 300,
    beta_milli: int = 100,
    gamma_milli: int = 300,
) -> DataFrame:
    """Streaming twin of plans/analytics.py holt_winters_forecast:
    holt_window_stream grown the additive season — per (group,
    window) the stream accumulates PERIOD counts, and eviction emits
    the triple-smoothed state (level, trend, seasonal amplitude),
    the season-aware next-period forecast, and the largest one-step
    residual: a volume monitor that stops paging on the weekend dip.

    Determinism contract is holt's, unchanged: counts accumulate
    order-free, the fold runs over the SORTED period array only at
    emit, so the final row is bit-identical to the batch
    ``holt_winters_forecast`` over the same rows' series under any
    arrival order, chunking, or partitioning. State per open (group,
    window) is the same windows/period counters — the p seasonal
    slots live only inside the emit fold, never in state."""
    return _period_stream(
        events, ts_col, group_col, window, period, watermark, _HW_OUT_SCHEMA,
        lambda xs: _hw_fold(xs, alpha_milli, beta_milli, gamma_milli, season),
    )


_CUSUM_OUT_SCHEMA = (
    "grp string, win_start timestamp, n_periods long, mu_milli long, "
    "max_cusum_milli long, first_alarm_period long, "
    "n_alarm_periods long, is_final boolean"
)


def _cusum_fold(xs, b: int) -> dict[str, int]:
    """The batch recurrence (plans/analytics.py cusum_shift):
    two-sided Page CUSUM, baseline mu from the first b ordered
    periods, slack mu div 20, threshold mu div 2 — truncating
    integer division, identical to the Catalyst fold."""
    mu = 1000 * sum(xs[: min(len(xs), b)]) // min(len(xs), b)
    kappa, h = mu // 20, mu // 2
    hi = lo = mx = first = n_alarms = 0
    for i, x in enumerate(xs[b:], start=b + 1):
        hi = max(0, hi + x * 1000 - mu - kappa)
        lo = max(0, lo + mu - x * 1000 - kappa)
        mx = max(mx, hi, lo)
        if hi > h or lo > h:
            n_alarms += 1
            if first == 0:
                first = i
    return {
        "mu_milli": mu,
        "max_cusum_milli": mx,
        "first_alarm_period": first,
        "n_alarm_periods": n_alarms,
    }


def cusum_window_stream(
    events: DataFrame,
    ts_col: str = "ts",
    group_col: str = "grp",
    window: str = "1 day",
    period: str = "1 hour",
    watermark: str = "1 hour",
    baseline_periods: int = 7,
) -> DataFrame:
    """Streaming twin of plans/analytics.py cusum_shift: per (group,
    window) the stream accumulates PERIOD counts and every update —
    plus the watermark-closing final — re-folds the two-sided Page
    CUSUM over the sorted periods: the silent-partial-loss canary
    (rate_anomaly_stream z-scores single batches; CUSUM accumulates
    a small persistent shift until it cannot be noise), live.

    Determinism contract unchanged from the holt/hw twins: counts
    accumulate order-free, the fold runs at emit over the SORTED
    period array, so the final row is bit-identical to the batch
    ``cusum_shift`` over the same rows' series under any arrival
    order, chunking, or partitioning. State is the same bounded
    windows/period counters; the CUSUM trajectory lives only inside
    the emit fold, never in state."""
    return _period_stream(
        events, ts_col, group_col, window, period, watermark, _CUSUM_OUT_SCHEMA,
        lambda xs: _cusum_fold(xs, baseline_periods),
    )


_HAMPEL_OUT_SCHEMA = (
    "key string, batch_count long, n_prior long, "
    "med_prior long, mad_prior long, is_spike boolean"
)
_HAMPEL_STATE_SCHEMA = "vals array<long>"


def hampel_stream(
    events: DataFrame,
    key_col: str,
    window: int = 7,
) -> DataFrame:
    """Streaming Hampel despike — the LIVE twin of the batch
    events_hampel_despike row (A107; plans/catalog.py): per key, each
    micro-batch's event count is tested against the median and MAD of
    the last ``window`` PRIOR batch counts, flagged when
    10000·|x − med| > 44478·mad — the exact integer cross-product of
    |x − med| > 3·1.4826·MAD, so the verdicts are bit-identical to
    the batch row's on the same series. The decision uses PRIOR
    batches only, then folds the batch in, so a spike can't mask
    itself (the rate_anomaly_stream discipline); the median reference
    means the batches AFTER a spike are judged against a window whose
    middle the spike cannot move — the robustness property that makes
    Hampel the despike filter and not the z-score. MAD = 0 (constant
    window) flags any deviation, the textbook convention the batch
    row states. The first ``window`` batches only learn.

    State is ONE row per key holding an array of at most ``window``
    longs — bounded by key cardinality x window, asserted via the
    progress-metrics state bound in the pytest (the L27/L35
    discipline); for unbounded key spaces hash into buckets first
    (the heavy_hitters_stream pattern).

    ``window`` must be ODD (r12, the r11 advice): the median/MAD pick
    ``s[window // 2]``, which is the true middle element only for odd
    lengths — an even window would silently use the upper-middle
    value and diverge from the batch row's convention, so it is
    rejected up front rather than approximated."""
    if window < 1 or window % 2 == 0:
        raise ValueError(
            f"hampel_stream window must be a positive ODD integer "
            f"(got {window}): the integer median s[window // 2] is "
            f"exact only for odd lengths, and bit-parity with "
            f"events_hampel_despike is the contract"
        )

    def fn(
        key: Tuple[Any], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        vals = list(state.get[0]) if state.exists else []
        x = 0
        for pdf in pdfs:
            x += len(pdf)
        n_prior = len(vals)
        med = mad = 0
        spike = False
        if n_prior >= window:
            s = sorted(vals)
            med = s[window // 2]
            dev = sorted(abs(v - med) for v in vals)
            mad = dev[window // 2]
            if mad == 0:
                spike = x != med
            else:
                spike = 10000 * abs(x - med) > 44478 * mad
        out = pd.DataFrame(
            {
                "key": [key[0]],
                "batch_count": [x],
                "n_prior": [n_prior],
                "med_prior": [med],
                "mad_prior": [mad],
                "is_spike": [spike],
            }
        )
        vals.append(x)
        if len(vals) > window:
            vals = vals[-window:]
        state.update((vals,))
        yield out

    return _apply_state(events, [key_col], fn, _HAMPEL_OUT_SCHEMA, _HAMPEL_STATE_SCHEMA)
