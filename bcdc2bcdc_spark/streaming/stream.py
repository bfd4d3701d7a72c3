"""Structured Streaming tailer — the "binlog tail" form of the engine.

The reference is pure batch (one-shot sync); the engine's epoch loop is
already micro-batch shaped, so the streaming form is exactly Structured
Streaming's contract: a file-source (or Kafka, in production) stream of
change events, ``foreachBatch`` applying each micro-batch through the SAME
``CDCPipeline.prepare_batch → lake.upsert`` path, with BOTH exactly-once
layers on:

* Structured Streaming's own checkpoint (offset log + commit log) decides
  which files belong to which micro-batch and never re-reads committed
  ones after restart;
* the engine's idempotent upsert + epoch markers make a replayed batch
  (crash between sink write and commit log) converge to the same table —
  the classic foreachBatch at-least-once → effectively-exactly-once
  pattern.

``streaming_lineage`` shows the watermark/window path for late events:
event-time windowed per-repo counts with a configurable lateness bound.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from bcdc2bcdc_spark.plans.pipeline import CDCPipeline
from bcdc2bcdc_spark.schema import EVENTS_SCHEMA


@dataclass
class StreamingTailer:
    """Tails a directory of event files into the lake table."""

    spark: SparkSession
    pipeline: CDCPipeline
    events_dir: str
    checkpoint_dir: str
    max_files_per_trigger: int | None = None

    def _source(self) -> DataFrame:
        reader = (
            self.spark.readStream.schema(EVENTS_SCHEMA)
            .option("latestFirst", "false")
        )
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(self.max_files_per_trigger))
        return reader.parquet(self.events_dir)

    def _handle_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # micro-batch id = epoch id; the engine marker makes replays no-ops
        self.pipeline.apply_epoch(batch_df, int(batch_id))

    def run_available(self) -> None:
        """Process everything currently in the directory, then stop
        (Trigger.AvailableNow) — the batch-tail mode used by tests and by
        scheduled incremental runs."""
        q = (
            self._source()
            .writeStream.foreachBatch(self._handle_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def streaming_lineage(
    events: DataFrame,
    window: str = "1 minute",
    watermark: str = "5 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Event-time windowed per-repo op counts with a late-data watermark —
    the streaming analog of plans/checkpoint.lineage_metrics. Late events
    beyond the watermark are dropped from the window state (and, in the
    engine's epoch model, simply land in a later epoch instead)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), "repo", "op")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "repo",
            "op",
            "n",
        )
    )


# ---------------------------------------------------------------------------
# custom stateful operator: per-key LWW in the Spark state store
# ---------------------------------------------------------------------------

#: state = the key's current winning event; output = state + the key
LWW_STATE_SCHEMA = (
    "commit string, event_seq long, lang string, content string, op string"
)
LWW_STATE_OUTPUT_SCHEMA = (
    "repo string, path string, commit string, event_seq long, "
    "lang string, content string, op string"
)


#: The streaming winner order — the SAME total order the batch path's
#: LWW_ORDER extends over the payload (commit, event_seq can tie on derived
#: event logs), so streaming and batch winners agree on ties.
LWW_STATE_ORDER = ("commit", "event_seq", "lang", "content", "op")


def _ord_key(commit, event_seq, lang, content, op):
    """Null-safe comparison key mirroring Spark's desc_nulls_last over
    LWW_STATE_ORDER: a NULL ranks below every non-null at its position."""
    return (
        str(commit),
        int(event_seq),
        lang is not None,
        "" if lang is None else str(lang),
        content is not None,
        "" if content is None else str(content),
        str(op),
    )


def _make_lww_state_update(ttl_ms: int | None):
    """Build the applyInPandasWithState update function, closing over the
    optional processing-time TTL."""

    def _lww_state_update(key, pdfs, state):
        """Fold the micro-batch's events for one (repo, path) key into the
        stored winner. Arrow-batched — the only per-key Python is an O(1)
        tuple compare after a vectorized pandas reduction of the batch.
        A timed-out key is EVICTED silently (no emission)."""
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return

        df = pd.concat(list(pdfs), ignore_index=True)
        if df.empty:
            return
        df = df.sort_values(
            list(LWW_STATE_ORDER), ascending=False, kind="stable", na_position="last"
        )
        top = df.iloc[0]

        def _s(v):
            return None if pd.isna(v) else str(v)

        cand = (
            str(top["commit"]),
            int(top["event_seq"]),
            _s(top["lang"]),
            _s(top["content"]),
            str(top["op"]),
        )
        if state.exists:
            raw = tuple(state.get)
            cur = (str(raw[0]), int(raw[1]), raw[2], raw[3], str(raw[4]))
            if _ord_key(*cand) <= _ord_key(*cur):
                cand = cur
        state.update(cand)
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(
            [
                {
                    "repo": key[0],
                    "path": key[1],
                    "commit": cand[0],
                    "event_seq": cand[1],
                    "lang": cand[2],
                    "content": cand[3],
                    "op": cand[4],
                }
            ]
        )

    return _lww_state_update


def lww_state_stream(events: DataFrame, ttl_ms: int | None = None) -> DataFrame:
    """Per-key LWW as a CUSTOM STATEFUL streaming operator: the winner per
    (repo, path) lives in Spark's state store across micro-batches
    (``applyInPandasWithState``), emitted on every update — the
    streaming-native alternative to the epoch-batch ``lww_dedup`` when
    consumers need a continuously maintained current-winner stream rather
    than per-epoch table merges. The shuffle is the groupBy(repo, path)
    exchange only.

    **State size / eviction.** Without a TTL, state is O(distinct keys)
    forever — unbounded on an open key universe. ``ttl_ms`` arms a
    processing-time timeout per key, re-set on every update: a key idle for
    ttl_ms is evicted from the state store (silently — no tombstone
    emission). Re-emission semantics after eviction: the key's next event
    RE-SEEDS the state, so the newly emitted "winner" reflects only events
    after eviction — a late, stale event can temporarily regress the
    emitted winner until a newer event (or a batch reconciliation against
    the lake, which re-resolves with the full LWW order) supersedes it.
    Size the TTL to dominate the source's max replay/lateness window."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return events.groupBy("repo", "path").applyInPandasWithState(
        _make_lww_state_update(ttl_ms),
        outputStructType=LWW_STATE_OUTPUT_SCHEMA,
        stateStructType=LWW_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


def stream_exact_dedup(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    key_cols: Sequence[str] = (
        "repo", "path", "commit", "event_seq", "lang", "content", "op",
    ),
) -> DataFrame:
    """Exact duplicate-event suppression for AT-LEAST-ONCE sources
    (redelivered log records, replayed file drops): keep the first
    occurrence of each event identity inside the watermark horizon via
    ``dropDuplicatesWithinWatermark`` — state per key is bounded by the
    watermark (evicted once the event time passes out of the horizon),
    unlike plain ``dropDuplicates`` whose streaming state grows forever.

    This is upstream hygiene, not LWW: it removes REDELIVERIES of the
    same event; conflicting versions of a key still flow through and are
    resolved downstream (lww_state_stream or the batch pipeline). The
    engine's upsert is idempotent anyway — this just stops duplicate
    volume from inflating every downstream shuffle.

    The default identity covers the FULL event payload, not just
    (commit, event_seq): derived logs can carry distinct events with
    identical sequence identifiers (the same non-uniqueness LWW's total
    order extends over), and a narrower key would silently drop one of
    them — arbitrarily, so a stream run could diverge from the batch
    replay. Narrow ``key_cols`` only when event identity is genuinely
    unique upstream.
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )
