"""Streaming operators: watermarked event-time windows, session windows,
and streaming dedup (extensions; SURVEY.md §2.9/§2.11 — the reference has
no event-time semantics, these are the Spark-native generalization).

All helpers accept either a streaming or a batch DataFrame — the same
declarative plan serves both; watermarks are no-ops in batch mode, which
is how the DuckDB oracles validate the batch renderings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "10 minutes",
    keys: list[str] | None = None,
    watermark: str | None = "30 minutes",
    aggs: list | None = None,
) -> DataFrame:
    """Tumbling event-time window aggregation with late-data handling.

    Scale: state size is bounded by (watermark / window) * |keys| groups;
    Spark drops state older than the watermark.
    """
    keys = keys or []
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    aggs = aggs or [F.count(F.lit(1)).alias("n")]
    return df.groupBy(F.window(ts_col, window), *keys).agg(*aggs)


def session_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    keys: list[str] | None = None,
    watermark: str | None = "1 hour",
    aggs: list | None = None,
) -> DataFrame:
    """Session windows (gap-based). Batch mode gives the same sessions as
    the lag/cumsum rendering in queries.events_sessionize."""
    keys = keys or []
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    aggs = aggs or [F.count(F.lit(1)).alias("n")]
    return df.groupBy(F.session_window(ts_col, gap), *keys).agg(*aggs)


def streaming_dedup(
    df: DataFrame,
    keys: list[str],
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Exact dedup over a stream.

    With a ts_col, uses dropDuplicatesWithinWatermark so state is bounded
    by the watermark horizon (the 100 TB-safe variant); without one,
    unbounded dropDuplicates (exact, but state grows forever — batch use).
    """
    if ts_col is not None and df.isStreaming:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    upper: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream interval join: pair rows with equal
    ``key`` where right_ts in [left_ts, left_ts + upper]. In streaming
    mode both sides get watermarks and the time bound makes join state
    PRUNABLE — Spark evicts left rows once the right watermark passes
    left_ts + upper and vice versa, so state is bounded by
    (watermark + upper) of stream volume, never the full history. The
    identical plan runs in batch mode (watermarks no-op), which is how
    the oracle validates it."""
    l, r = left, right
    if l.isStreaming:
        l = l.withWatermark(left_ts, watermark)
    if r.isStreaming:
        r = r.withWatermark(right_ts, watermark)
    cond = (
        (l[key] == r[key])
        & (r[right_ts] >= l[left_ts])
        # qualified column arithmetic, not a bare F.expr on the name:
        # when both streams carry an identically-named ts column the
        # unqualified reference is AMBIGUOUS in the joined plan
        & (r[right_ts] <= l[left_ts] + F.expr(f"INTERVAL {upper}"))
    )
    return l.join(r, cond, "inner").drop(r[key])


def stateful_sessions(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap_hours: int = 24,
):
    """Custom stateful session aggregation via applyInPandasWithState —
    the arbitrary-state streaming operator Spark's built-in
    session_window cannot express when per-session logic goes beyond
    an aggregate (here: sessions are CLOSED and emitted only when a
    later event proves the gap, and open sessions persist in the state
    store across micro-batches / restarts, exactly like the engine's
    --state/--resume semantics for aggregation state).

    Semantics (deterministic, watermark-independent): events stream
    per user in event-time order; an event more than ``gap_hours``
    after the open session's end closes it (emitting one row) and
    opens a new one. Each user's final session intentionally stays in
    state — it belongs to the next run. NoTimeout keeps emission a
    pure function of the data, so the DuckDB oracle reproduces it as
    batch gap-sessionization minus each user's last session.

    Money amounts aggregate as integer cents (floor(value*100)) — an
    order-independent exact sum, immune to FP reassociation across
    engines and partitionings.

    Scale: state is one (start, end, n, cents) tuple per user — tiny
    and bounded by |users|, not history; the shuffle is the groupBy
    key exchange any stateful op pays. Arrow-batched (one pandas call
    per user-batch), never row-at-a-time."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_start", T.TimestampType()),
            T.StructField("session_end", T.TimestampType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_cents", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start_ns", T.LongType()),
            T.StructField("end_ns", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("cents", T.LongType()),
        ]
    )
    gap_ns = int(gap_hours) * 3600 * 1_000_000_000

    def fn(key, pdfs, state):
        uid = key[0]
        chunks = [p for p in pdfs]
        rows = (
            pd.concat(chunks, ignore_index=True)
            if chunks
            else pd.DataFrame(columns=[ts_col, value_col])
        )
        if len(rows) == 0:
            return
        rows = rows.sort_values(ts_col, kind="stable")
        # normalize to ns regardless of the Arrow-side unit (us vs ns)
        ts_ns = (
            rows[ts_col].astype("datetime64[ns]").astype("int64").tolist()
        )
        vals = rows[value_col].tolist()
        if state.exists:
            start, end, n, cents = state.get
        else:
            start = None
            end = n = cents = 0
        closed = []
        for t, v in zip(ts_ns, vals):
            c = 0 if v is None or v != v else int(v * 100 // 1)
            if start is None:
                start, end, n, cents = t, t, 1, c
            elif t > end + gap_ns:
                closed.append((uid, start, end, n, cents))
                start, end, n, cents = t, t, 1, c
            else:
                end = max(end, t)
                n += 1
                cents += c
        state.update((start, end, n, cents))
        if closed:
            out = pd.DataFrame(
                closed,
                columns=[
                    "user_id", "session_start", "session_end",
                    "n_events", "sum_cents",
                ],
            )
            out["session_start"] = pd.to_datetime(
                out["session_start"], unit="ns"
            )
            out["session_end"] = pd.to_datetime(out["session_end"], unit="ns")
            yield out

    return df.select(
        F.col(user_col).cast("long").alias("user_id"),
        F.col(ts_col),
        F.col(value_col),
    ).groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
