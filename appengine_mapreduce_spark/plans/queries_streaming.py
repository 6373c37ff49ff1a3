"""Driver-visible Structured Streaming evidence: each query REPLAYS a
fixture table through a real streaming pipeline (readStream → the
streaming/jobs.py builder under test → memory sink, availableNow-style
finite replay with processAllAvailable) and returns the materialized
result, which the driver then checks against a batch SQL oracle.

Beyond the pytest cases, the same streaming code paths produce
CORRECTNESS rows here. The replay is finite, so results are deterministic —
the streaming/batch equivalence these oracles prove is exactly the
guarantee an operator needs before running unbounded.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from appengine_mapreduce_spark.plans.registry import register
from appengine_mapreduce_spark.plans.tables import load


def _replay(
    df_stream: DataFrame, output_mode: str, stage_path: str | None = None
) -> DataFrame:
    """Run a finite streaming query to completion into a memory sink and
    return the sink table. The memory sink holds the materialized rows,
    so the checkpoint dir and the staged source parquet (``stage_path``)
    are deleted once the replay finishes — repeated plan-audit/bench runs
    must not leak staged copies of the events table into /tmp."""
    name = "replay_" + uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    q = (
        df_stream.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
        if stage_path is not None:
            shutil.rmtree(stage_path, ignore_errors=True)
    return df_stream.sparkSession.table(name)


def _stage_events(spark: SparkSession, sf_dir: str, dup: bool = False) -> str:
    """Materialize the (timestamp-normalized) events table as a plain
    parquet directory a file streaming source can tail. ``dup=True``
    writes every event twice — an at-least-once source."""
    ev = load(spark, sf_dir, "events")
    if dup:
        ev = ev.unionAll(ev)
    path = tempfile.mkdtemp(prefix="events_replay_")
    ev.write.mode("overwrite").parquet(path)
    return path


@register(
    "streaming_hourly_replay",
    oracle="""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
               event_type, count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events GROUP BY 1, 2
    """,
    description="Streaming tumbling-window aggregation replayed over the "
    "events fixture (streaming/jobs.hourly_event_counts: readStream -> "
    "1-hour event-time windows -> memory sink, complete mode). The batch "
    "SQL oracle proves streaming == batch on a finite replay — the "
    "incremental window state machinery produces exactly the groupBy "
    "result. Unbounded runs add a watermark; the complete-mode finite "
    "replay is the deterministic verification harness.",
    tags=("streaming", "window", "replay"),
)
def streaming_hourly_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.streaming.jobs import hourly_event_counts

    path = _stage_events(spark, sf_dir)
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    return _replay(
        hourly_event_counts(stream, watermark=None), "complete",
        stage_path=path,
    )


@register(
    "streaming_dedup_replay",
    oracle="""
        SELECT count(*) AS n,
               CAST(sum(event_id) AS BIGINT) AS sum_event_id,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events
    """,
    description="Streaming exact dedup replayed over an at-least-once "
    "source: every event is delivered TWICE, "
    "streaming/jobs.streaming_dedup (dropDuplicatesWithinWatermark, "
    "watermark-bounded state) keeps first occurrences, and the aggregate "
    "of survivors must equal the batch aggregate of the original table — "
    "effectively-once from at-least-once delivery, the streaming twin of "
    "the batch dedup_exact contract.",
    tags=("streaming", "dedup", "replay"),
)
def streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.streaming.jobs import streaming_dedup

    path = _stage_events(spark, sf_dir, dup=True)
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    deduped = _replay(
        streaming_dedup(stream, key_cols=("event_id",), watermark="100 days"),
        "append",
        stage_path=path,
    )
    return deduped.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("sum_event_id"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
    )


@register(
    "streaming_sessionize_replay",
    oracle="""
        WITH ord AS (
            SELECT user_id, epoch_us(ts) AS us,
                   lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
                       AS prev_us
            FROM events
        ),
        flagged AS (
            SELECT user_id, us,
                   CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                        THEN 1 ELSE 0 END AS new_s
            FROM ord
        ),
        sess AS (
            SELECT user_id, us,
                   sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged
        ),
        agg AS (
            SELECT user_id, sid,
                   min(us) AS start_us, max(us) AS end_us,
                   count(*) AS n_events
            FROM sess GROUP BY user_id, sid
        )
        SELECT user_id,
               CAST(start_us AS BIGINT) AS session_start_us,
               CAST(end_us AS BIGINT) AS session_end_us,
               n_events
        FROM agg
        WHERE sid < (SELECT max(sid) FROM agg a2 WHERE a2.user_id = agg.user_id)
    """,
    description="Custom stateful streaming operator through the driver "
    "gate: streaming/jobs.session_counts (applyInPandasWithState, 30-min "
    "inactivity gap) replayed over the events fixture with idle-timeout "
    "disabled, so exactly the CLOSED sessions emit — every session except "
    "each user's last, which stays open in state awaiting more events. "
    "The oracle computes closed sessions with window functions; matching "
    "start/end/count per session proves the Pandas state machine against "
    "independent SQL.",
    tags=("streaming", "sessionization", "stateful", "udf", "replay"),
)
def streaming_sessionize_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from appengine_mapreduce_spark.streaming.jobs import session_counts

    path = _stage_events(spark, sf_dir)
    stream = spark.readStream.schema(
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string"
    ).parquet(path)
    sessions = _replay(
        session_counts(stream, use_timeout=False), "append", stage_path=path
    )
    return sessions.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
    )


_SCRUB_K = 8  # matches the batch substring-dedup channel (_SUB_K)


@register(
    "streaming_substring_scrub_replay",
    oracle=rf"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\s+'),
                               x -> x <> '') AS tk
            FROM documents
        ),
        sh AS (
            SELECT doc_id, i - 1 AS pos,
                   ('0x' || substr(md5('sub:' ||
                        array_to_string(tk[i:i+{_SCRUB_K - 1}], ' ')),
                        1, 15))::BIGINT AS dig
            FROM (SELECT doc_id, tk,
                         unnest(generate_series(1, len(tk) - {_SCRUB_K - 1}))
                             AS i
                  FROM toks WHERE len(tk) >= {_SCRUB_K})
        ),
        store AS (SELECT DISTINCT dig FROM sh WHERE doc_id < 300),
        hits AS (
            SELECT s.doc_id, s.pos FROM sh s JOIN store USING (dig)
            WHERE s.doc_id >= 300
        ),
        cov AS (
            SELECT DISTINCT doc_id, ti FROM (
                SELECT doc_id,
                       unnest(generate_series(pos, pos + {_SCRUB_K - 1}))
                           AS ti
                FROM hits)
        ),
        tokpos AS (
            SELECT doc_id, j - 1 AS ti, tk[j] AS tok
            FROM (SELECT doc_id, tk,
                         unnest(generate_series(1, len(tk))) AS j
                  FROM toks WHERE doc_id >= 300)
        ),
        kept AS (
            SELECT t.doc_id, t.ti, t.tok
            FROM tokpos t
                 LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.ti = c.ti
            WHERE c.ti IS NULL
        ),
        cleaned AS (
            SELECT doc_id, count(*) AS n_after,
                   string_agg(tok, ' ' ORDER BY ti) AS ctext
            FROM kept GROUP BY doc_id
        )
        -- batch 0 (the bootstrap day): empty store, nothing stripped,
        -- every doc passes through token-normalized
        SELECT doc_id,
               CAST(len(tk) AS INT) AS n_tokens_before,
               CAST(len(tk) AS INT) AS n_tokens_after,
               md5(array_to_string(tk, ' ')) AS cleaned_md5
        FROM toks WHERE doc_id < 300
        UNION ALL
        -- batch 1: scrubbed against the store batch 0 left behind —
        -- identical to the batch incremental-cleaned oracle
        SELECT t.doc_id,
               CAST(len(t.tk) AS INT) AS n_tokens_before,
               CAST(coalesce(c.n_after, 0) AS INT) AS n_tokens_after,
               md5(coalesce(c.ctext, '')) AS cleaned_md5
        FROM toks t LEFT JOIN cleaned c USING (doc_id)
        WHERE t.doc_id >= 300
    """,
    description="CONTINUOUS ingest scrub through the driver gate (the "
    "streaming twin of substring_dedup_incremental): documents replay "
    "as two micro-batches (doc_id < 300, then >= 300) through a real "
    "readStream + foreachBatch pipeline "
    "(streaming/sinks.substring_scrub_sink). Batch 0 scrubs against an "
    "EMPTY digest store (nothing stripped — bootstrap) and deposits its "
    "k-gram digests; batch 1 is stripped of every span repeating batch "
    "0's content — proving store accumulation ACROSS micro-batches, the "
    "property that makes the scrub continuous rather than per-batch. "
    "Exactly-once: cleaned batches commit via markers, the store swaps "
    "atomically with a _LAST_APPLIED watermark. Output md5-pins every "
    "cleaned text; the oracle composes the bootstrap passthrough with "
    "the batch incremental-cleaned replay.",
    tags=("streaming", "dedup", "substring", "incremental", "replay"),
)
def streaming_substring_scrub_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import glob as _glob
    import os

    from appengine_mapreduce_spark.streaming.sinks import substring_scrub_sink

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="scrub_replay_")
    src = os.path.join(work, "src")
    os.makedirs(src)
    ckpt = os.path.join(work, "ckpt")

    def _stage(day_df: DataFrame, name: str) -> None:
        tmp = os.path.join(work, f"stage_{name}")
        day_df.coalesce(1).write.mode("overwrite").parquet(tmp)
        for i, f in enumerate(sorted(_glob.glob(os.path.join(tmp, "*.parquet")))):
            os.replace(f, os.path.join(src, f"{name}_{i}.parquet"))

    _stage(docs.filter(F.col("doc_id") < 300), "day0")
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
    q = (
        stream.writeStream.foreachBatch(
            substring_scrub_sink(
                os.path.join(work, "store"), os.path.join(work, "out"),
                k=_SCRUB_K,
            )
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()  # micro-batch 0: bootstrap day
        _stage(docs.filter(F.col("doc_id") >= 300), "day1")
        q.processAllAvailable()  # micro-batch 1: scrubbed vs day-0 store
    finally:
        q.stop()
    cleaned = spark.read.parquet(os.path.join(work, "out", "batch_id=*"))
    out = cleaned.select(
        "doc_id",
        "n_tokens_before",
        "n_tokens_after",
        F.md5(F.col("cleaned_text")).alias("cleaned_md5"),
    )
    # Materialize before the staged dirs are deleted — the same
    # driver-side materialization every other streaming replay gets from
    # its memory sink (summary-sized: 4 narrow columns per batch doc);
    # foreachBatch pipelines have no memory-sink equivalent to lean on.
    rows = out.collect()
    shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "doc_id bigint, n_tokens_before int, n_tokens_after int, "
        "cleaned_md5 string",
    )


@register(
    "streaming_conversion_join_replay",
    oracle="""
        SELECT l.user_id,
               CAST(epoch_us(l.ts) AS BIGINT) AS lead_us,
               CAST(epoch_us(c.ts) AS BIGINT) AS conv_us,
               CAST(epoch_us(c.ts) // 1000000 - epoch_us(l.ts) // 1000000
                    AS BIGINT) AS delay_s,
               c.value AS conv_value
        FROM (SELECT * FROM events WHERE event_type = 'signup') l
        JOIN (SELECT * FROM events WHERE event_type = 'purchase') c
          ON l.user_id = c.user_id
         AND c.ts >= l.ts
         AND c.ts <= l.ts + INTERVAL 1 HOUR
    """,
    description="Stream-stream event-time interval join replayed over the "
    "events fixture (streaming/jobs.conversion_join): signup and purchase "
    "streams carry watermarks on BOTH sides and the join condition bounds "
    "event time, so the engine can expire join state — the finite replay's "
    "result must equal the batch interval join the oracle computes. This "
    "is the hardest streaming operator (two-sided buffered state) proven "
    "against plain SQL.",
    tags=("streaming", "join", "replay"),
)
def streaming_conversion_join_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from appengine_mapreduce_spark.streaming.jobs import conversion_join

    path = _stage_events(spark, sf_dir)
    schema = spark.read.parquet(path).schema
    leads = (
        spark.readStream.schema(schema)
        .parquet(path)
        .filter(F.col("event_type") == "signup")
    )
    convs = (
        spark.readStream.schema(schema)
        .parquet(path)
        .filter(F.col("event_type") == "purchase")
    )
    joined = conversion_join(
        leads, convs, key="user_id", within="1 hour", watermark="100 days"
    )
    out = _replay(joined, "append", stage_path=path)
    return out.select(
        "user_id",
        F.unix_micros("lead_ts").alias("lead_us"),
        F.unix_micros("conv_ts").alias("conv_us"),
        F.col("delay_s").cast("bigint").alias("delay_s"),
        "conv_value",
    )
