"""Catch-up subscriptions (SURVEY §2.6 U1-U3) via Structured Streaming.

Reference model: a subscription reads history, then switches to live push
from the commit pipeline, falling back to catch-up when it overflows
(Enumerator.StreamSubscription.cs: CatchUp/GoLive/FellBehind). With a
Structured-Streaming file source over the log directory the catch-up→live
transition is inherent: the first micro-batches drain history, later ones
tail newly committed files — no dual-mode machinery, no overflow handling
(backpressure via maxFilesPerTrigger).

Checkpoints (U2's periodic checkpoint messages / U8) are Spark streaming
checkpoints: pass ``checkpoint_location`` to ``start_*``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.filters import EventFilter, default_all_filter
from ..schema import EVENTS_SCHEMA


def _maintenance_safe_predicate(log_path: str,
                                started_at_ms: int | None = None):
    """Row predicate that closes the rewrite→vacuum double-read window
    for a subscription STARTED now (or running across a later rewrite).

    A Structured-Streaming file source tails the raw directory and cannot
    pin a manifest, so between a maintenance rewrite and its ``vacuum``
    BOTH generations of the surviving events are on disk. Every event
    row, however, can be attributed to its file (``input_file_name``),
    and rewrite files carry their publish time in the name
    (``part-{scavenge|optimize}-<epoch_ms>-…``, maintenance.
    ``_publish_rewrite``), which gives an exact exclusion rule:

    - files already SUPERSEDED at start (on disk but absent from the
      current manifest — the old generation inside its grace window)
      never deliver: the subscription reads the survivors from the new
      generation instead;
    - rewrite files PUBLISHED AFTER start never deliver: every event in
      them is either already on disk at start (delivered from the old
      generation this subscription pinned) or appended later (delivered
      from its append file) — rewrites introduce no new events, so this
      drops only the second copy.

    Returns None when the log has never published a manifest (then no
    rewrite has ever happened and the filter would be dead weight).

    ``started_at_ms`` pins the cut for restarts: a query resumed from a
    streaming checkpoint re-builds this predicate, and must keep the
    ORIGINAL subscription start (else a rewrite that happened mid-run
    would re-admit its files, which the restarted source sees as new).
    Callers that restart from checkpoints should persist their start
    time alongside the checkpoint and pass it here.
    """
    import time

    from .. import manifest as M

    seq, snap = M.latest(log_path)
    if seq < 0:
        return None
    fname = F.substring_index(F.input_file_name(), "/", -1)
    gen = F.regexp_extract(fname, r"^part-(?:scavenge|optimize|redact)-(\d+)-", 1)
    cut = int(time.time() * 1000) if started_at_ms is None else started_at_ms
    pred = (gen == "") | (gen.cast("long") <= cut)
    superseded = sorted(set(M.data_files(log_path)) - set(snap))
    if superseded:
        pred = pred & ~fname.isin(superseded)
    return pred


def _guard_archived_history(log_path: str, from_position: int) -> None:
    """A Structured-Streaming source tails the HOT directory only; once
    ``drop_archived_local`` has removed local copies, history below the
    archive checkpoint is no longer streamable. A subscription asking
    for that history must fail loudly (not silently skip it) — catch up
    through the archive with a BATCH read (read_all / events()), then
    subscribe from the checkpoint forward. (The reference reads through
    to its archive on the read path, archiving.md; its subscription
    latency warning is this same boundary.)"""
    from .. import manifest as M

    cfg = M.archive_config(log_path)
    if not cfg:
        return
    dropped = any(
        not os.path.exists(os.path.join(log_path, name))
        for name in cfg.get("files", [])
    )
    if dropped and from_position <= int(cfg.get("checkpoint", 0)):
        raise ValueError(
            f"history up to position {cfg['checkpoint']} of {log_path} "
            "lives only in the archive and cannot be streamed; batch-read "
            "it (read_all/events), then subscribe with "
            f"from_position > {cfg['checkpoint']}"
        )


def subscribe_all(
    spark: SparkSession,
    log_path: str,
    event_filter: EventFilter | None = None,
    from_position: int = 0,
    apply_default_filter: bool = False,
    max_files_per_trigger: int | None = None,
    started_at_ms: int | None = None,
) -> DataFrame:
    """U2: streaming DataFrame over the whole log ($all subscription).
    Safe to start at ANY time relative to maintenance: superseded and
    post-start rewrite generations are excluded row-wise (see
    ``_maintenance_safe_predicate``), so each surviving event is
    observed exactly once. Pass ``started_at_ms`` when restarting from a
    streaming checkpoint (the original start time)."""
    _guard_archived_history(log_path, from_position)
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    s = reader.parquet(log_path)
    safe = _maintenance_safe_predicate(log_path, started_at_ms)
    if safe is not None:
        s = s.where(safe)
    if from_position:
        s = s.where(F.col("log_position") >= from_position)
    if apply_default_filter:
        s = s.where(default_all_filter())
    if event_filter is not None:
        s = s.where(
            event_filter.predicate()
            if isinstance(event_filter, EventFilter)
            else event_filter
        )
    return s


def subscribe_stream(
    spark: SparkSession,
    log_path: str,
    stream_id: str,
    from_event_number: int = 0,
    **kw,
) -> DataFrame:
    """U1: catch-up subscription to one stream."""
    s = subscribe_all(spark, log_path, **kw)
    return s.where(
        (F.col("stream_id") == stream_id)
        & (F.col("event_number") >= from_event_number)
    )


def windowed_event_counts(
    sub: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    by: str = "event_type",
) -> DataFrame:
    """Event-time tumbling-window counts over a subscription, tolerant of
    late arrivals up to ``watermark`` (SURVEY §2.4: the reference has no
    event-time windows — the log is processing-ordered — so this is the
    Spark-native capability the engine ADDS for monitoring/analytics over
    live streams; state for windows older than the watermark is dropped,
    which is what bounds streaming-aggregation memory at 100 TB/day
    ingest rates).

    Returns a streaming DataFrame (window struct, ``by`` column, n) —
    run with outputMode("update") (running counts) or "append"
    (finalized windows only).
    """
    return (
        sub.withWatermark("created", watermark)
        .groupBy(F.window("created", window).alias("window"), F.col(by))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def sessionize(
    sub: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    by: str = "stream_id",
) -> DataFrame:
    """Event-time sessionization over a subscription: activity bursts per
    ``by`` key separated by more than ``gap`` become separate sessions
    (``session_window`` merges as late rows arrive, until the watermark
    finalizes a session and frees its state).

    Returns (session struct(start, end), ``by``, n_events) — the
    streaming analog of the batch ``user_sessions`` query, with the
    SAME tie rule: a gap of exactly ``gap`` merges (session_window
    merges touching windows = the batch query's strict gap > test), so
    both twins produce identical sessions on the same closed data —
    pinned by the cross-twin test, including a session spanning a
    micro-batch boundary (r13). Run with outputMode("append") to get
    only FINALIZED sessions."""
    return (
        sub.withWatermark("created", watermark)
        .groupBy(F.session_window("created", gap).alias("session"), F.col(by))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def streaming_interval_enrich(
    probe: DataFrame,
    reference: DataFrame,
    key: str = "stream_id",
    ts_col: str = "created",
    lookback: str = "1 hour",
    watermark: str = "2 hours",
    ref_cols: list[str] | None = None,
    suffix: str = "_ref",
) -> DataFrame:
    """Stream-stream time-interval enrichment: every probe event joins
    each reference event of the same ``key`` whose timestamp falls in
    ``[probe_ts − lookback, probe_ts]`` — the live sibling of the batch
    :func:`~eventstore_spark.operators.temporal.interval_join` family
    (fraud checks against recent activity, purchase × recent views).

    Pure Structured Streaming built-ins: both sides carry watermarks and
    the join condition is key-equality plus the time range, which Spark
    executes as a watermarked stream-stream join — state for reference
    rows older than ``watermark + lookback`` is dropped automatically,
    which is what bounds join-state memory at 100 TB/day rates (the
    documented state-store story; no custom state code). Inner join:
    probe rows with no reference match in-range are absent (Spark emits
    unmatched outer rows only at watermark expiry — use leftOuter
    downstream when completeness matters more than latency).

    Returns the probe columns plus every ``ref_cols`` column suffixed
    with ``suffix`` (default: the reference's payload value and its
    timestamp).
    """
    if ref_cols is None:
        ref_cols = ["event_id", ts_col]
    p = probe.withWatermark(ts_col, watermark).alias("p")
    r = (reference.select(
            F.col(key).alias("_rk"),
            F.col(ts_col).alias("_rts"),
            *[F.col(c).alias(f"{c}{suffix}") for c in ref_cols])
         .withWatermark("_rts", watermark).alias("r"))
    cond = (
        (F.col(f"p.{key}") == F.col("r._rk"))
        & (F.col("r._rts") <= F.col(f"p.{ts_col}"))
        & (F.col("r._rts")
           >= F.col(f"p.{ts_col}") - F.expr(f"INTERVAL {lookback}"))
    )
    return p.join(r, cond, "inner").drop("_rk", "_rts")


def streaming_rate_anomaly(
    sub: DataFrame,
    out_path: str,
    state_path: str,
    ts_col: str = "created",
    trailing: int = 24,
    threshold_ppm: int = 500_000,
    watermark: str = "2 hours",
):
    """Live hourly event-rate anomaly monitoring — the streaming twin of
    the batch :func:`~eventstore_spark.operators.stats.rate_anomaly`
    (SAME columns, SAME arithmetic, equivalence on closed data pinned
    by the cross-twin test):

    * the stream collapses to FINALIZED hourly counts with pure
      built-ins (watermarked 1-hour tumbling window, append mode —
      state for open hours is Spark's own, dropped past the watermark);
    * a ``foreachBatch`` fold carries the bounded trailing baseline —
      the last ``trailing`` OBSERVED hours' (hour, n), ≤ ``trailing``
      rows of state in a JSON file written atomically — and appends one
      JSONL verdict row per finalized hour with the batch operator's
      exact BIGINT deviation arithmetic;
    * recovery is exactly-once by HOUR: a replayed micro-batch's hours
      at or before the last emitted hour are skipped (the state file
      commits after the output append, so a crash between them replays
      into the skip).

    Returns the writeStream builder — call ``.start()`` (pass a
    checkpoint via ``.option("checkpointLocation", ...)`` first).

    At 100 TB/day the executor-side work is one map-side-combined
    window count; the fold only ever sees HOURS (≤ a few rows per
    micro-batch), never events.
    """
    import json as _json

    counts = (
        sub.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("hour"), "n")
    )

    def _fold(batch_df, epoch_id):
        rows = sorted(
            ((r.hour, int(r.n)) for r in batch_df.collect()),
            key=lambda t: t[0])
        if not rows:
            return
        try:
            with open(state_path) as fh:
                st = _json.load(fh)
        except (FileNotFoundError, ValueError):
            st = {"hours": [], "last_emitted": None}
        out = []
        for hour, n in rows:
            iso = hour.isoformat()
            if st["last_emitted"] is not None and iso <= st["last_emitted"]:
                continue  # replayed or out-of-order straggler
            tail = st["hours"][-trailing:]
            m = len(tail)
            s = sum(c for _, c in tail)
            dev = (abs(n * m - s) * 1_000_000 // s) if s else None
            out.append({
                "hour": iso, "n": n, "trailing_n": s,
                "trailing_hours": m, "dev_ppm": dev,
                "is_anomaly": bool(dev is not None
                                   and dev >= threshold_ppm
                                   and m == trailing),
            })
            st["hours"] = (st["hours"] + [[iso, n]])[-trailing:]
            st["last_emitted"] = iso
        if not out:
            return
        with open(out_path, "a") as fh:
            for row in out:
                fh.write(_json.dumps(row) + "\n")
        tmp = state_path + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump(st, fh)
        os.replace(tmp, state_path)

    return counts.writeStream.outputMode("append").foreachBatch(_fold)


def start_to_memory(sub: DataFrame, name: str, checkpoint_location: str | None = None,
                    available_now: bool = False):
    """Run a subscription into an in-memory sink (tests / long-poll reads:
    process-available ≙ U3's long-poll drain).

    ``available_now=True`` uses Trigger.AvailableNow: drain everything
    committed at start time in rate-limited micro-batches, then STOP —
    the catch-up-and-complete read (the reference's non-live subscription
    that ends at the head), with the streaming checkpoint still tracking
    position for the next incremental drain."""
    w = sub.writeStream.outputMode("append").format("memory").queryName(name)
    if available_now:
        w = w.trigger(availableNow=True)
    if checkpoint_location:
        w = w.option("checkpointLocation", checkpoint_location)
    return w.start()


def is_caught_up(query) -> bool:
    """U1 `CaughtUp` marker (streams.proto:103-106): True once the
    subscription has drained all history known to the source — the point
    where the reference's enumerator switches from CatchUp to Live and
    pushes a CaughtUp message (Enumerator.StreamSubscription.cs:191-223).

    Derived from the streaming query's status: at least one micro-batch
    has completed AND the source reports no more available data. (The file
    source doesn't populate latestOffset in progress events, so offset
    comparison can't express this; isDataAvailable is the engine's own
    drained-backlog signal.) Like the reference's marker, it reflects the
    engine's current knowledge — data appended but not yet polled flips it
    back on the next trigger.
    """
    if query.lastProgress is None:
        return False  # still catching up through the first batch
    status = query.status or {}
    return not status.get("isDataAvailable", True)


def _checkpoint_seen_files(checkpoint_location: str) -> set[str] | None:
    """File basenames the subscription's file source has COMMITTED
    processing, parsed from the streaming checkpoint's source log
    (``sources/0/<batch>`` entries; a ``.compact`` file carries the full
    prior history, so parsing starts at the newest one). Driver-side file
    IO only — never a Spark job. None when the source has not committed
    its first batch yet."""
    import json

    d = os.path.join(checkpoint_location, "sources", "0")
    if not os.path.isdir(d):
        return None
    entries = []
    for n in os.listdir(d):
        base = n[: -len(".compact")] if n.endswith(".compact") else n
        try:
            i = int(base)
        except ValueError:
            continue
        entries.append((i, n))
    if not entries:
        return None
    entries.sort()
    start = 0
    for idx, (_i, n) in enumerate(entries):
        if n.endswith(".compact"):
            start = idx
    seen: set[str] = set()
    for _i, n in entries[start:]:
        try:
            with open(os.path.join(d, n)) as fh:
                for line in fh:
                    line = line.strip()
                    if not line or line.startswith("v"):
                        continue
                    try:
                        doc = json.loads(line)
                    except ValueError:
                        continue
                    p = doc.get("path")
                    if p:
                        seen.add(os.path.basename(p))
        except FileNotFoundError:
            continue
    return seen


def subscription_backlog(log_path: str, checkpoint_location: str,
                         threshold_files: int = 2) -> dict:
    """U1 ``FellBehind`` surface (streams.proto pairs ``CaughtUp`` with
    ``FellBehind``; the reference's enumerator emits it when a live
    subscriber's buffer overflows and it drops back to catch-up,
    Enumerator.StreamSubscription.cs). A file-tailing subscription has no
    buffer to overflow — it falls behind by FILES PENDING — so the
    observable is the backlog: committed log files the subscription's
    checkpoint shows it has not yet processed (round 6; VERDICT r5 #6).

    Returns ``{"seen_files", "pending_files", "fell_behind"}`` where
    ``fell_behind = pending_files >= threshold_files`` (default 2: one
    pending file is the normal just-appended state ``is_caught_up``
    already reflects; a growing count is real pressure). Counts are a
    slight over-estimate across maintenance rewrites — post-start rewrite
    files are scanned-then-row-filtered by the subscription, so they
    appear pending until scanned, which is honest backlog work."""
    from .. import manifest as M

    seen = _checkpoint_seen_files(checkpoint_location)
    committed = M.snapshot_files(log_path)
    if seen is None:
        seen = set()
    pending = [f for f in committed if f not in seen]
    return {
        "seen_files": len(seen),
        "pending_files": len(pending),
        "fell_behind": len(pending) >= threshold_files,
    }


def start_with_markers(
    spark: SparkSession,
    log_path: str,
    on_batch,
    on_marker,
    checkpoint_location: str | None = None,
    event_filter: EventFilter | None = None,
    threshold_files: int = 2,
    from_position: int = 0,
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
    resolve_link_tos: bool = False,
):
    """U1 IN-BAND subscription status markers (streams.proto:103-106
    pairs ``CaughtUp`` with ``FellBehind``; the reference's enumerator
    interleaves them in the subscription's message stream at the exact
    point the transition happened, Enumerator.StreamSubscription.cs).
    ``subscription_backlog`` is the pull-style observable; this is the
    push-style surface: ``on_marker(kind, batch_id)`` is called BETWEEN
    event batches, ordered with the ``on_batch(matches_df, batch_id)``
    deliveries around it —

    - ``("CaughtUp", b)`` after the batch that drained the last file
      known committed (catch-up → live transition, and again each time
      the subscription recovers from falling behind);
    - ``("FellBehind", b)`` before a batch that starts with
      ``threshold_files`` or more committed-but-unread files while the
      subscription was live (live → catch-up transition).

    Drives the UNFILTERED scan (like ``start_all_with_checkpoints``) so
    progress is measured against files actually scanned even when the
    event filter matches nothing in them. File bookkeeping is
    driver-side set arithmetic over the manifest listing —
    metadata-scale, no extra Spark jobs beyond one distinct over each
    micro-batch's already-persisted rows.

    ``checkpoint_location`` is REQUIRED: the streaming checkpoint's
    offset log is how files whose rows are all filtered out (below
    ``from_position``, or post-start maintenance rewrites) get credited
    as seen — without it CaughtUp could starve forever. The original
    subscription start time persists beside the checkpoint
    (``_subscription_start_ms``) and pins the maintenance-safe
    predicate across restarts, so a rewrite published between stop and
    restart cannot re-deliver surviving events."""
    import time as _time

    from .. import manifest as M

    if not checkpoint_location:
        raise ValueError(
            "start_with_markers requires checkpoint_location — file "
            "progress (and marker correctness) is derived from the "
            "streaming checkpoint's offset log"
        )
    os.makedirs(checkpoint_location, exist_ok=True)
    start_marker = os.path.join(checkpoint_location, "_subscription_start_ms")
    try:
        with open(start_marker) as fh:
            started_at_ms = int(fh.read().strip())
    except (FileNotFoundError, ValueError):
        started_at_ms = int(_time.time() * 1000)
        with open(start_marker, "w") as fh:
            fh.write(str(started_at_ms))

    raw = subscribe_all(
        spark, log_path, None, from_position,
        max_files_per_trigger=max_files_per_trigger,
        started_at_ms=started_at_ms,
    )
    # input_file_name() is empty inside foreachBatch (the micro-batch
    # plan is no longer a file scan there) — the hidden `_metadata`
    # column, resolved against the SOURCE scan, survives into the sink
    raw = raw.withColumn("_marker_src_file", F.col("_metadata.file_name"))
    pred = (
        event_filter.predicate()
        if isinstance(event_filter, EventFilter)
        else event_filter
    )
    # a restart resumes the ORIGINAL subscription's progress: seed the
    # seen-set from the streaming checkpoint's source log
    state = {"live": False,
             "seen": set(_checkpoint_seen_files(checkpoint_location) or ()),
             "ckpt_parsed": set()}

    def _credit_checkpoint_files():
        # The source writes this batch's file list to the offset log
        # BEFORE the batch executes, so the checkpoint also credits
        # files whose rows were ALL filtered out (below from_position,
        # or post-start rewrite files the row predicate drops) —
        # row-derived names alone would leave such files "pending"
        # forever and starve CaughtUp. Parse INCREMENTALLY: only offset
        # entries not seen before (a long-running query would otherwise
        # re-parse the full .compact history every trigger).
        d = os.path.join(checkpoint_location, "sources", "0")
        if not os.path.isdir(d):
            return

        def is_entry(n):  # offset entries: "<batch>" or "<batch>.compact"
            base = n[: -len(".compact")] if n.endswith(".compact") else n
            return base.isdigit()

        fresh = [n for n in os.listdir(d)
                 if n not in state["ckpt_parsed"] and is_entry(n)]
        if not fresh:
            return
        state["ckpt_parsed"].update(fresh)
        import json as _json

        for n in fresh:
            try:
                with open(os.path.join(d, n)) as fh:
                    for line in fh:
                        line = line.strip()
                        if not line or line.startswith("v"):
                            continue
                        try:
                            doc = _json.loads(line)
                        except ValueError:
                            continue
                        p = doc.get("path")
                        if p:
                            state["seen"].add(os.path.basename(p))
            except (FileNotFoundError, IsADirectoryError):
                continue

    def fn(batch_df, batch_id):
        # list the committed files FIRST: files that commit while this
        # batch executes must not count toward "pending at batch start"
        # (they'd fire a spurious FellBehind on a subscription that is
        # in fact keeping up)
        committed = M.snapshot_files(log_path)
        cached = batch_df.persist()  # keep THIS reference for unpersist —
        # rebinding to .drop(...) would unpersist a different plan and
        # leak one cached micro-batch per trigger (round-8 review)
        try:
            files = {
                os.path.basename(r[0])
                for r in cached.select("_marker_src_file").distinct().collect()
            }
            seen_before = set(state["seen"])
            state["seen"] |= files
            _credit_checkpoint_files()
            pending_at_start = [f for f in committed if f not in seen_before]
            if state["live"] and len(pending_at_start) >= threshold_files:
                state["live"] = False
                on_marker("FellBehind", batch_id)
            out = cached.drop("_marker_src_file")
            matches = out.where(pred) if pred is not None else out
            if resolve_link_tos:
                # ResolveLinkTos on the subscription surface (the gRPC
                # subscription option, streams.proto ReadReq.Options):
                # resolve THIS batch's `$>` rows against a FRESH log
                # snapshot — links can point at targets committed after
                # the subscription started, so the target side must be
                # re-pinned per micro-batch, not at query start.
                # Unresolved links keep null targets like the
                # reference's null-event ResolvedEvent. The target scan
                # is PRUNED to the batch's link-target streams (the
                # batch is already materialized, so collecting its few
                # distinct targets is a driver-side set; the isin
                # predicate pushes into the parquet scan) — without
                # this, every micro-batch would shuffle the whole log
                # through the resolve join at warehouse scale.
                from ..operators.links import parse_link, resolve_links
                from ..schema import LINK_EVENT_TYPE

                target_streams = [
                    r[0] for r in matches
                    .where(F.col("event_type") == LINK_EVENT_TYPE)
                    .select(parse_link(F.col("data")).alias("t"))
                    .select("t.target_stream").distinct().collect()
                ]
                log_df = M.read_files(spark, M.resolve(log_path)[1]).where(
                    F.col("stream_id").isin(target_streams)
                    if target_streams else F.lit(False)
                )
                # resolve even when the batch has no links so every
                # batch delivers the same (envelope + link_*) schema
                matches = resolve_links(matches, targets_from=log_df)
            on_batch(matches, batch_id)
            pending_after = [f for f in committed if f not in state["seen"]]
            if not state["live"] and not pending_after:
                state["live"] = True
                on_marker("CaughtUp", batch_id)
        finally:
            cached.unpersist()

    return start_foreach_batch(raw, fn, checkpoint_location,
                               available_now=available_now)


def start_foreach_batch(sub: DataFrame, fn, checkpoint_location: str | None = None,
                        available_now: bool = False):
    """Run a subscription through foreachBatch (exactly-once sinks).
    ``available_now=True`` drains what's committed, then stops — with a
    checkpoint, each invocation processes only the delta since the last
    (the incremental catch-up read)."""
    w = sub.writeStream.foreachBatch(fn)
    if available_now:
        w = w.trigger(availableNow=True)
    if checkpoint_location:
        w = w.option("checkpointLocation", checkpoint_location)
    return w.start()


def start_all_with_checkpoints(
    spark: SparkSession,
    log_path: str,
    event_filter: EventFilter | None,
    on_batch,
    checkpoint_location: str | None = None,
    from_position: int = 0,
    checkpoint_interval: int = 1,
    apply_default_filter: bool = False,
    max_files_per_trigger: int | None = None,
):
    """U2 with periodic checkpoint MARKERS (streams.proto:64-79,
    ``checkpointIntervalMultiplier``): a filtered $all subscriber whose
    filter rarely matches still needs a position signal, or a restart
    rescans everything since its last delivered event.

    Drives the UNFILTERED scan through foreachBatch and calls
    ``on_batch(matches_df, checkpoint_position, batch_id)`` per
    micro-batch: ``matches_df`` is the filter-matching slice (possibly
    empty), and every ``checkpoint_interval`` micro-batches
    ``checkpoint_position`` carries the max log_position the server-side
    scan REACHED in that batch — even when the filter matched nothing —
    else None. Positions are monotone (the file source feeds commits in
    order), so the subscriber persists them and resumes with
    ``from_position=ckpt + 1``.
    """
    raw = subscribe_all(
        spark, log_path, None, from_position,
        apply_default_filter=apply_default_filter,
        max_files_per_trigger=max_files_per_trigger,
    )
    pred = (
        event_filter.predicate()
        if isinstance(event_filter, EventFilter)
        else event_filter
    )
    state = {"batches": 0}

    def fn(batch_df, batch_id):
        batch_df.persist()
        try:
            matches = batch_df.where(pred) if pred is not None else batch_df
            state["batches"] += 1
            ckpt = None
            if state["batches"] % checkpoint_interval == 0:
                head = batch_df.agg(F.max("log_position")).first()[0]
                if head is not None:
                    ckpt = int(head)
            on_batch(matches, ckpt, batch_id)
        finally:
            batch_df.unpersist()

    return start_foreach_batch(raw, fn, checkpoint_location)
