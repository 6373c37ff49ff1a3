"""Streaming twins of the batch operators.

Each builder takes a *streaming* DataFrame (``spark.readStream...``) and
returns the transformed streaming DataFrame — sink/trigger choices belong
to the caller. The batch twins in plans/ are oracle-checked; these reuse
the same expressions, so the logic is verified once and run twice.

Scale notes: watermarks bound state (late events beyond the horizon drop);
``session_counts`` uses applyInPandasWithState, the engine's custom
stateful-operator escape hatch (the reference has nothing comparable).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from appengine_mapreduce_spark.core.adapters import drop_zip_finders


def hourly_event_counts(
    events: DataFrame, watermark: str | None = "2 hours"
) -> DataFrame:
    """Tumbling 1-hour windows per event_type — streaming twin of the
    oracle-checked ``hourly_event_stats`` batch query.

    ``watermark=None`` skips adding one (the caller already set it, or is
    running complete-mode over a finite replay)."""
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n",
            "total_value",
        )
    )


def streaming_wordcount(lines: DataFrame, text_col: str = "text") -> DataFrame:
    """Incremental wordcount over a text stream (demo/main.py:195-208 as a
    continuous job)."""
    words = lines.select(
        F.explode(
            F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != F.lit(""))
        ).alias("word")
    )
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))


def conversion_join(
    leads: DataFrame,
    conversions: DataFrame,
    key: str = "user_id",
    within: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream event-time join: match each conversion to the
    lead event(s) of the same user that happened within ``within`` before
    it.

    Both sides carry watermarks and the join condition bounds event time
    on both sides, so the engine can expire join state — without the time
    bound a stream-stream join would buffer both streams forever.
    ``how="left_outer"`` emits unconverted leads with NULL conversion
    columns, but only once the watermark proves no match can still arrive
    — the delayed-NULL semantics unique to streaming outer joins. Output:
    (user_id, lead_ts, conv_ts, delay_s, conv_value).
    """
    l = leads.select(
        F.col(key).alias("l_key"), F.col("ts").alias("lead_ts")
    ).withWatermark("lead_ts", watermark)
    c = conversions.select(
        F.col(key).alias("c_key"), F.col("ts").alias("conv_ts"), F.col("value")
    ).withWatermark("conv_ts", watermark)
    joined = l.join(
        c,
        F.expr(
            f"l_key = c_key AND conv_ts >= lead_ts "
            f"AND conv_ts <= lead_ts + interval {within}"
        ),
        how,
    )
    return joined.select(
        F.col("l_key").alias("user_id"),
        "lead_ts",
        "conv_ts",
        (F.unix_timestamp("conv_ts") - F.unix_timestamp("lead_ts")).alias("delay_s"),
        F.col("value").alias("conv_value"),
    )


def streaming_corpus_scrub(docs: DataFrame, min_quality: float = 0.35) -> DataFrame:
    """Continuous corpus scrub — the streaming twin of the batch
    ``corpus_filter_pipeline``'s stateless rules: language-ID and quality
    scoring are row-local expressions computed in ONE projection
    (operators/text_analysis.scrub_signals — no joins, no state, no
    watermark), so an ingestion pipeline can run this between the crawler
    and the corpus store and low-quality content never lands. Emits kept
    documents with ``pred_lang`` and ``quality`` attached."""
    from appengine_mapreduce_spark.operators.text_analysis import scrub_signals

    scored = scrub_signals(docs)
    return scored.filter(
        (F.col("pred_lang") != "und") & (F.col("quality") >= min_quality)
    )


def streaming_dedup(
    events: DataFrame,
    key_cols: Iterable[str] = ("event_id",),
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup — the continuous twin of the batch
    ``dedup_exact`` operator: keep the first occurrence of each key,
    dropping replays/duplicates that arrive within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` bounds the dedup state to the
    watermark window (state for a key expires once the watermark passes
    it) — a plain ``dropDuplicates`` on a stream would grow state forever,
    the same unbounded-keys hazard the batch dedup avoids by hashing.
    At-least-once sources (Kafka replays, file redelivery) become
    effectively-once through this operator.
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


_SESSION_OUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, n_events bigint"
)
_SESSION_STATE_SCHEMA = "start bigint, last bigint, n bigint"
_GAP_US = 1_800_000_000  # 30 min, matches the batch sessionize_users query


def _session_fn(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    use_timeout: bool = True,
) -> Iterator[pd.DataFrame]:
    """Custom stateful operator: emit a row per CLOSED 30-min-gap session.

    State is (session_start_us, last_seen_us, n_events). A processing-time
    timeout (when enabled) flushes the open session when the stream goes
    quiet.
    """
    drop_zip_finders()
    (user_id,) = key
    if use_timeout and state.hasTimedOut:
        start, last, n = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "session_start": [pd.Timestamp(start, unit="us")],
                "session_end": [pd.Timestamp(last, unit="us")],
                "n_events": [n],
            }
        )
        return

    ts_us: list[int] = []
    for pdf in pdfs:
        ts_us.extend(int(t.value // 1000) for t in pd.to_datetime(pdf["ts"]))
    ts_us.sort()

    closed: list[tuple[int, int, int]] = []
    if not ts_us:
        return
    if state.exists:
        start, last, n = state.get
    else:
        start = last = ts_us[0]
        n = 0
    for t in ts_us:
        if n > 0 and t - last > _GAP_US:
            closed.append((start, last, n))
            start, n = t, 0
        n += 1
        last = t
    state.update((start, last, n))
    if use_timeout:
        state.setTimeoutDuration(60_000)

    if closed:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(closed),
                "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in closed],
                "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in closed],
                "n_events": [n for _, _, n in closed],
            }
        )


def session_counts(events: DataFrame, use_timeout: bool = True) -> DataFrame:
    """Sessionize a user event stream with a custom stateful operator
    (applyInPandasWithState) — emits one row per closed session.

    ``use_timeout=False`` disables the idle-flush (deterministic finite
    replays: only gap-closed sessions emit)."""
    import functools

    fn = functools.partial(_session_fn, use_timeout=use_timeout)
    return (
        events.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=_SESSION_OUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if use_timeout
                else GroupStateTimeout.NoTimeout
            ),
        )
    )
