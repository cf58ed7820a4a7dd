"""Structured Streaming extraction (SURVEY.md §2.8 notes the reference
has no streaming; this is engine-completeness scaffolding for the
transcripts pipeline: the same extract kernel over readStream).

The parse is stateless per-row, so the streaming plan is just
readStream -> (the same one-scan Arrow kernel, with its internal
'<'-free fast path) -> writeStream. Ordering windows are not valid in
append-mode streams; ordering is a batch/reader concern. A watermarked
per-conversation rolling aggregate is provided as the stateful example.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)


def read_transcripts_stream(spark, input_path: str,
                            max_files_per_trigger: int = 8) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )


def conversation_rolling_stats(extracted: DataFrame,
                               watermark: str = "10 minutes",
                               window: str = "5 minutes") -> DataFrame:
    """Watermarked windowed per-conversation aggregate (late data beyond
    the watermark is dropped — the standard streaming trade)."""
    return (
        extracted.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("conv_id"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum("parse_errors").alias("n_parse_errors"),
            F.sum(F.length("extracted_text")).alias("n_chars"),
        )
    )


def run_stream_to_parquet(spark, input_path: str, output_path: str,
                          checkpoint_path: str, mode: str = "fragment",
                          context: str = "div"):
    """Drive the streaming extraction to a parquet sink: process
    everything present, then stop."""
    from .pipeline import extract_turns

    src = read_transcripts_stream(spark, input_path)
    q = (
        extract_turns(src, mode, context, ordered=False)
        .writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


SESSION_SCHEMA = (
    "conv_id string, n_turns long, n_chars long, n_parse_errors long, "
    "first_ts timestamp, last_ts timestamp, closed boolean"
)
_STATE_SCHEMA = (
    "n_turns long, n_chars long, n_parse_errors long, "
    "first_ts timestamp, last_ts timestamp"
)


def conversation_sessions(extracted: DataFrame,
                          idle_ms: int = 600_000) -> DataFrame:
    """CUSTOM STATEFUL operator (applyInPandasWithState): per-
    conversation session accumulation with event-time idle timeout.

    Each conv_id keeps (n_turns, n_chars, n_parse_errors, first_ts,
    last_ts) across micro-batches; while a conversation is live every
    batch emits its running summary with closed=false (update mode),
    and once the event-time watermark passes last_ts + idle_ms the
    state times out and the final summary emits with closed=true,
    freeing the state. Scale notes: state is one tiny fixed-width row
    per OPEN conversation, keyed-partitioned by conv_id (Spark's state
    store shards it with the shuffle), and Arrow-batched like every
    other Python crossing in this repo."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    # Arrow hands the worker naive timestamps rendered in the SESSION
    # timezone, while state-restored values come back as naive
    # datetime.datetime whose .timestamp() would use the PROCESS-LOCAL
    # tz — two different epochs on any non-UTC host. Capture the
    # session tz at plan time and localize explicitly so the timeout
    # epoch is identical on both code paths.
    session_tz = extracted.sparkSession.conf.get(
        "spark.sql.session.timeZone")

    def _epoch_ms(ts) -> int:
        import pandas as pd

        t = pd.Timestamp(ts)
        if t.tzinfo is None:
            # DST folds/gaps: pick the DST interpretation for ambiguous
            # wall times and shift nonexistent ones forward — both
            # deterministic, and at worst 1h of idle-timeout slack
            # twice a year (raising here would kill the whole query)
            t = t.tz_localize(session_tz, ambiguous=True,
                              nonexistent="shift_forward")
        return int(t.timestamp() * 1000)

    def fn(key, pdfs, state):
        import pandas as pd

        conv_id = key[0]
        if state.hasTimedOut:
            n, c, e, f, l = state.get
            state.remove()
            yield pd.DataFrame([{
                "conv_id": conv_id, "n_turns": n, "n_chars": c,
                "n_parse_errors": e, "first_ts": f, "last_ts": l,
                "closed": True,
            }])
            return
        if state.exists:
            n, c, e, f, l = state.get
        else:
            n = c = e = 0
            f = l = None
        for pdf in pdfs:
            n += len(pdf)
            c += int(pdf["extracted_text"].str.len().sum())
            e += int(pdf["parse_errors"].sum())
            bmin = pdf["ts"].min()
            bmax = pdf["ts"].max()
            f = bmin if f is None else min(f, bmin)
            l = bmax if l is None else max(l, bmax)
        state.update((n, c, e, f, l))
        # close the session once the watermark passes last_ts + idle
        state.setTimeoutTimestamp(_epoch_ms(l) + idle_ms)
        yield pd.DataFrame([{
            "conv_id": conv_id, "n_turns": n, "n_chars": c,
            "n_parse_errors": e, "first_ts": f, "last_ts": l,
            "closed": False,
        }])

    return (
        extracted.withWatermark("ts", "0 seconds")
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn, SESSION_SCHEMA, _STATE_SCHEMA, "update",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_dedup(docs: DataFrame,
                 watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup with BOUNDED state: the md5 fingerprint
    of lowercased, whitespace-collapsed text (the same normalization
    as the batch `fingerprint` operator, so batch and stream agree on
    what counts as a duplicate) deduplicated via
    dropDuplicatesWithinWatermark — the state store keeps one tiny
    row per fingerprint only until the event-time watermark passes,
    which is what makes exact dedup feasible on an unbounded stream
    (the full-history variant, plain dropDuplicates, grows state
    forever; cross-window dups are a batch/compaction concern).
    Expects a `ts` event-time column alongside `text`."""
    from .ops import normalized_text

    return (
        docs.withColumn("fingerprint",
                        F.md5(normalized_text(F.col("text"))))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )
