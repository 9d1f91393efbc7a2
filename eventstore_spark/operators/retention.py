"""Stream retention / visibility semantics (S8, stream metadata).

The reference tightens read bounds by MaxCount / MaxAge / TruncateBefore
BEFORE touching the index (IndexReader.ReadStreamEventsForwardInternal,
/root/reference/src/EventStore.Core/Services/Storage/ReaderIndex/
IndexReader.cs:250-330), and hides everything for tombstoned streams.

Spark-first translation: visibility is a JOIN + predicate applied as a
VIEW over the log — Catalyst pushes the per-stream bounds into the scan.
The broadcast of ``stream_metadata`` (a small dimension: one row per
stream with retention settings) keeps this shuffle-free at any scale.
``EventStoreEngine.events()`` resolves that dimension once per log
generation and passes it here as a local relation, the analog of the
reference's per-stream metadata cache.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import MAX_LONG


def visible_events(
    events: DataFrame,
    stream_metadata: DataFrame | None,
    now_ts=None,
) -> DataFrame:
    """Apply MaxCount / MaxAge / TruncateBefore / tombstone visibility.

    * ``truncate_before`` ($tb): event_number >= tb; tb == MAX_LONG is a
      soft delete (everything hidden until new appends recreate).
    * ``max_count``: only the last N events of the stream are visible.
    * ``max_age_seconds``: created >= now - max_age.
    * ``tombstoned``: hard delete — nothing visible.

    ``max_count`` needs the stream's last event number. Computing it with
    a per-stream window over the WHOLE log would shuffle every event on
    every read, even when no stream sets max_count; instead the heads are
    aggregated only for the streams that HAVE a max_count (a broadcast
    semi-filtered scan → tiny per-stream max → broadcast back), so the
    main log path stays shuffle-free — the Spark shape of the reference's
    O(1) last-event-number lookup in IndexBackend.

    The dimension is broadcast, so it must fit on the driver; that is why
    the engine can collect it once per log generation (``events()``) and
    pass a local relation here without adding a size limit. ``now_ts``
    defaults to ``current_timestamp``, evaluated at query time.
    """
    if stream_metadata is None:
        return events
    if now_ts is None:
        now_ts = F.current_timestamp()

    md = F.broadcast(
        stream_metadata.select(
            "stream_id", "max_count", "max_age_seconds", "truncate_before", "tombstoned"
        )
    )
    joined = events.join(md, "stream_id", "left")

    mc_streams = stream_metadata.where(
        F.col("max_count").isNotNull()
    ).select("stream_id")
    last = (
        events.join(F.broadcast(mc_streams), "stream_id")
        .groupBy("stream_id")
        .agg(F.max("event_number").alias("_last_event_number"))
    )
    joined = joined.join(F.broadcast(last), "stream_id", "left")

    visible = (
        (F.col("tombstoned").isNull() | ~F.col("tombstoned"))
        & (
            F.col("truncate_before").isNull()
            | (
                (F.col("truncate_before") != MAX_LONG)
                & (F.col("event_number") >= F.col("truncate_before"))
            )
        )
        & (
            F.col("max_count").isNull()
            | (F.col("event_number") > F.col("_last_event_number") - F.col("max_count"))
        )
        & (
            F.col("max_age_seconds").isNull()
            | (F.col("created") >= now_ts - F.make_dt_interval(secs=F.col("max_age_seconds")))
        )
    )
    return joined.where(visible).drop(
        "max_count", "max_age_seconds", "truncate_before", "tombstoned", "_last_event_number"
    )
