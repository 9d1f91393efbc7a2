"""Append protocol: total order, expected-version, idempotency (SURVEY §3.2).

Reference write path: Streams.Append → RequestManager → single
StorageWriterService thread runs IndexWriter.CheckCommit (expected version
vs current, idempotency by EventId → CommitDecision Ok / WrongExpectedVersion
/ Deleted / Idempotent, /root/reference/src/EventStore.Core/Services/Storage/
ReaderIndex/IndexWriter.cs:179-255, CommitDecision.cs:6-14) then appends to
the chunked log.

Spark is an analytics engine, not an OLTP store — the design keeps the
reference's ONE invariant that matters (a single globally ordered writer
assigning ``log_position``/``event_number``) and makes each append batch one
atomic columnar commit:

  * all appends serialize through one ``EventLogWriter`` (the "writer
    thread"); on a cluster this is the driver of a Structured Streaming
    ``foreachBatch`` job draining an append queue — writes are micro-batched,
    so throughput scales with batch size while order stays total;
  * the single-writer invariant is ENFORCED, not just documented
    (round 5). In-process: every writer on one directory shares a
    ``_PathCore`` (append mutex + position allocator + per-stream head
    state), so two writer objects can never interleave positions or
    serve stale stream state. Cross-process: a ``_writer.lock`` file
    carries (pid, fencing token); a live foreign holder makes writer
    construction raise ``WriterFencedError``, a dead holder's lock is
    stolen atomically, and the token is re-verified before every commit
    so a fenced-out writer fails its NEXT commit instead of corrupting
    the order. Final backstop: manifest publication is a CAS on the
    generation number (``manifest.ManifestConflictError``). The
    reference enforces the same invariant structurally — one
    StorageWriterService thread owns the log (StorageWriterService.cs:283);
    cluster fencing there is the election/epoch of the replication layer;
  * each committed batch lands as immutable parquet files inside the log
    directory;
  * writer state is LAZY and BOUNDED: opening a writer reads exactly one
    scalar (max log_position) from the log; per-stream last-event-number /
    tombstone / recent-event-ids load on first touch of that stream via a
    pruned scan — the analog of the reference's LRU last-event-number cache
    (IndexBackend) plus its bounded near-head idempotency check
    (IndexWriter.cs:179-255 only consults recent commits). Nothing is ever
    O(log size) on the driver.

Bulk emission appends (``append_df``) stay DISTRIBUTED end to end: dedupe
is a left-anti join against the log, per-stream event numbers come from a
window partitioned by stream, and global positions come from per-stream
contiguous blocks allocated on the driver from one tiny per-stream count —
no ``collect()`` of event rows ever happens.

Readers never coordinate with the writer: they pin a manifest
generation (``manifest.resolve``) and read exactly its files, through
``load()`` here or any other holder of the path.
"""

from __future__ import annotations

import json
import os
import threading
import uuid
from collections import deque
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import manifest
from .schema import (
    EVENTS_SCHEMA,
    METADATA_EVENT_TYPE,
    METASTREAM_PREFIX,
    STREAM_DELETED_EVENT_TYPE,
    MAX_LONG,
)

# ExpectedVersion sentinel values (Data/ExpectedVersion.cs:6-13)
ANY = -2
NO_STREAM = -1
STREAM_EXISTS = -4

# TFConsts.cs:9-11: max log record 16 MB; gRPC maxAppendSize default 1 MiB
# (Grpc/Streams.Append.cs:18 validates the whole append against it).
MAX_RECORD_SIZE = 16 * 1024 * 1024
DEFAULT_MAX_APPEND_SIZE = 1024 * 1024

# How many most-recent events per stream back the idempotency check. The
# reference's CheckCommit similarly only consults commits near the head —
# a replay of an ancient batch is NOT detected as idempotent there either.
IDEMPOTENCY_WINDOW = 256


class WrongExpectedVersionError(Exception):
    def __init__(self, stream_id: str, expected: int, current: int):
        super().__init__(
            f"append to '{stream_id}': expected version {expected}, current {current}"
        )
        self.expected, self.current = expected, current


class StreamDeletedError(Exception):
    pass


class RecordTooLargeError(Exception):
    """A single event exceeds MAX_RECORD_SIZE (TFConsts.MaxLogRecordSize)."""


class WriterFencedError(Exception):
    """The single-writer lock for this log directory is held by another
    LIVE process (at construction), or was taken over after this writer
    acquired it (at commit). The fenced writer must not publish."""


class MaxAppendSizeExceededError(Exception):
    """The whole append exceeds the configured maxAppendSize
    (Grpc/Streams.Append.cs:18)."""


@dataclass
class ProposedEvent:
    """What a client appends (Data/Event.cs:10-42)."""

    event_type: str
    data: str | None = None
    metadata: str | None = None
    event_id: str = field(default_factory=lambda: uuid.uuid4().hex)
    is_json: bool = True

    def byte_size(self) -> int:
        return len((self.data or "").encode()) + len((self.metadata or "").encode())


def _category(stream_id: str) -> str | None:
    # reference extractor edges (StreamCategoryExtractorByFirstSeparator
    # .cs:15-19, matched by schema.category_of): position > 0 AND never
    # for $-prefixed ids — stored and computed categories must agree, or
    # category-pushdown readers that prefer the stored column would keep
    # the old semantics (round-8 review finding)
    if stream_id.startswith("$"):
        return None
    i = stream_id.find("-")
    return stream_id[:i] if i > 0 else None


# ---------------------------------------------------------------------------
# Single-writer enforcement (round 5)
# ---------------------------------------------------------------------------

LOCK_FILE = "_writer.lock"  # underscore → invisible to Spark's file listing


class _StreamCache:
    """Per-stream head state: ``streams[sid]`` = [last_event_number,
    tombstoned], ``ids[sid]`` = {event_id: event_number} over the most
    recent IDEMPOTENCY_WINDOW events, ``meta[sid]`` = the stream's current
    metadata document. Filled lazily per stream (the LRU-cache analog of
    IndexBackend's last-event-number)."""

    def __init__(self):
        self.streams: dict[str, list] = {}
        self.ids: dict[str, dict[str, int]] = {}
        self.meta: dict[str, dict] = {}


@dataclass
class _QueuedAppend:
    """One ``append()`` call waiting on the write head; whoever drains the
    queue sets ``result`` or ``error`` before releasing the mutex."""

    stream_id: str
    events: list
    expected: int
    created: datetime | None
    result: int | None = None
    error: BaseException | None = None


class _PathCore:
    """Process-wide write head for ONE log directory: every
    ``EventLogWriter`` opened on the same directory in this process shares
    it, as every request shares the reference's one StorageWriterService.

      * ``mutex`` serializes commits and guards all head state (an RLock:
        the commit path re-enters it through the stream-state reads);
      * ``pending`` queues ``append()`` calls; the next mutex holder
        commits everything queued as one file;
      * ``last_position``, ``manifest_seq`` and ``cache`` are the head
        state: the committed position, the manifest generation every
        publish CASes against, and the per-stream state. They are valid
        exactly while this process holds the fence — derived from disk when
        it is acquired, dropped when it is released;
      * the commit condition/epoch (U3 long-poll wakeups), so a waiter
        parked via one writer object wakes on a commit made through another;
      * ``fence_token`` is this process's claim in the cross-process
        ``_writer.lock`` file.
    """

    def __init__(self, path: str):
        self.path = path
        self.mutex = threading.RLock()
        self.pending: deque[_QueuedAppend] = deque()
        self.cond = threading.Condition()
        self.epoch = 0
        self.fence_token: str | None = None
        self.last_position: int | None = None
        self.manifest_seq: int | None = None
        self.cache = _StreamCache()


_CORES: dict[str, _PathCore] = {}
_CORES_GUARD = threading.Lock()


def _core_for(path: str) -> _PathCore:
    key = os.path.realpath(path)
    with _CORES_GUARD:
        core = _CORES.get(key)
        if core is None:
            core = _CORES[key] = _PathCore(path)
        return core


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    return True


def _pid_start_time(pid: int) -> int | None:
    """Kernel start time (jiffies since boot) of ``pid`` — the
    pid-recycling disambiguator: a recycled pid has a different start
    time, so a lock whose holder died and whose pid was reused is still
    judged stale instead of held hostage by the unrelated new process.
    None when /proc isn't available (non-Linux) — liveness then falls
    back to pid-only."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read().decode("ascii", "replace")
        # field 22 counts from 1, AFTER the parenthesized comm (which may
        # itself contain spaces/parens) — split on the LAST ')'
        return int(stat.rsplit(")", 1)[1].split()[19])
    except (OSError, IndexError, ValueError):
        return None


def _holder_alive(cur: dict) -> bool:
    """Is the lock's recorded holder still the SAME live process?"""
    pid = cur.get("pid")
    if pid is None or pid == os.getpid() or not _pid_alive(pid):
        return False
    recorded = cur.get("pid_start")
    if recorded is not None:
        now = _pid_start_time(pid)
        if now is not None and now != recorded:
            return False  # pid recycled — the recorded holder is dead
    return True


def _read_lock(lock_path: str) -> dict:
    try:
        with open(lock_path) as f:
            return json.load(f) or {}
    except (FileNotFoundError, ValueError):
        return {}


def _acquire_fence(core: _PathCore, timeout_s: float = 0.0) -> None:
    """Claim the cross-process writer lock for ``core.path`` (idempotent
    per process). A lock held by a LIVE foreign pid raises
    ``WriterFencedError`` — or, with ``timeout_s`` > 0, is re-probed
    until the holder releases/dies or the deadline passes (the "second
    writer waits" mode). A dead holder's lock — the crash-recovery path —
    is stolen with an atomic replace and re-read to confirm we won a
    concurrent steal race."""
    if core.fence_token is not None:
        return
    import time as _time

    lock = os.path.join(core.path, LOCK_FILE)
    token = uuid.uuid4().hex
    payload = json.dumps(
        {
            "pid": os.getpid(),
            "pid_start": _pid_start_time(os.getpid()),
            "token": token,
            "acquired_at": datetime.now(timezone.utc).isoformat(),
        }
    )
    deadline = _time.monotonic() + timeout_s
    attempts = 0
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            with os.fdopen(fd, "w") as f:
                f.write(payload)
            core.fence_token = token
            return
        except FileExistsError:
            cur = _read_lock(lock)
            if _holder_alive(cur):
                if _time.monotonic() < deadline:  # waiting mode: re-probe
                    _time.sleep(0.05)
                    continue
                raise WriterFencedError(
                    f"log {core.path} is owned by live writer pid "
                    f"{cur.get('pid')}; close it (or let it die) before "
                    "opening a writer here"
                )
            # stale (dead pid / corrupt / our own pre-crash claim): steal
            tmp = lock + f".{token[:8]}.tmp"
            with open(tmp, "w") as f:
                f.write(payload)
            os.replace(tmp, lock)
            if _read_lock(lock).get("token") == token:  # we won the steal
                core.fence_token = token
                return
            # a concurrent stealer overwrote us — re-evaluate their claim
            attempts += 1
            if attempts >= 8 and _time.monotonic() >= deadline:
                raise WriterFencedError(
                    f"could not acquire writer lock for {core.path}"
                )


def _verify_fence(core: _PathCore) -> None:
    """The commit-time check: our token must still be the one on disk.
    Catches a steal by another process (e.g. ours was wrongly judged
    dead) before anything is published under a lost claim."""
    if core.fence_token is None:
        raise WriterFencedError(
            f"writer for {core.path} was closed — open a new EventLogWriter"
        )
    cur = _read_lock(os.path.join(core.path, LOCK_FILE))
    if cur.get("token") != core.fence_token:
        raise WriterFencedError(
            f"writer lock for {core.path} was taken over by pid "
            f"{cur.get('pid')} — this writer is fenced and must not commit"
        )


def _release_fence(core: _PathCore) -> None:
    if core.fence_token is None:
        return
    lock = os.path.join(core.path, LOCK_FILE)
    if _read_lock(lock).get("token") == core.fence_token:
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass
    core.fence_token = None
    core.last_position = core.manifest_seq = None
    core.cache = _StreamCache()


class EventLogWriter:
    """Single-writer append head over a parquet log directory."""

    def __init__(self, spark: SparkSession, path: str,
                 max_append_size: int = DEFAULT_MAX_APPEND_SIZE,
                 lock_timeout_s: float = 0.0,
                 read_only: bool = False):
        self.spark = spark
        self.path = path
        # read_only: serve load()/load_at() WITHOUT claiming the
        # single-writer lock — the reference serves any number of read
        # connections beside its one writer; here N analyst processes
        # open read-only handles while ONE process owns the append head.
        # Appends through a read-only handle raise WriterFencedError.
        self._read_only = read_only
        self.max_append_size = max_append_size
        os.makedirs(path, exist_ok=True)
        # shared per-directory write head: in-process total-order +
        # cross-process fencing (see _PathCore / _acquire_fence)
        self._core = _core_for(path)
        # one-entry (resolved paths, DataFrame, stream cache) entry for the
        # current log generation, see snapshot(); the lock also guards the
        # engine's visibility table, which is keyed the same way
        self.snapshot_lock = threading.Lock()
        self._snapshot: tuple[tuple[str, ...], DataFrame, _StreamCache] | None = None
        if read_only:
            return  # no fence, no recovery scan — reads resolve lazily
        with self._core.mutex:
            if self._core.fence_token is None:
                _acquire_fence(self._core, timeout_s=lock_timeout_s)
            if self._core.last_position is None:  # released, or a failed recovery
                self._recover()

    @property
    def read_only(self) -> bool:
        return self._read_only

    # -- recovery: one scalar read, never a full-log collect --
    def _recover(self) -> None:
        """Derive the head state from disk once the fence is acquired: the
        max log_position and the manifest generation. Per-stream state
        loads on first touch."""
        core = self._core
        core.cache = _StreamCache()
        core.last_position = self._durable_head()
        core.manifest_seq = manifest.latest(self.path)[0]

    def _durable_head(self) -> int:
        key, log = self.snapshot()
        if not key:  # an empty log
            return 0
        return int(log.agg(F.max("log_position")).first()[0] or 0)

    def _state(self) -> tuple[_StreamCache, tuple | None]:
        """(stream cache, snapshot to fill it from or None for "resolve
        lazily"). While this process holds the fence, every commit goes
        through the core, so its cache is authoritative and never needs a
        manifest read on a hit. A read-only (or closed) handle caches in
        the current snapshot entry instead: a commit by another process
        is a new generation, whose entry starts empty."""
        if not self._read_only and self._core.fence_token is not None:
            return self._core.cache, None
        key, log, cache = self._entry()
        return cache, (key, log)

    def _stream_state(self, stream_id: str) -> list:
        """[last_event_number, tombstoned] for a stream, loading it from
        the log on first touch via one pruned per-stream scan bounded to
        the IDEMPOTENCY_WINDOW most recent events.

        The state is only authoritative when the id map is loaded too:
        ``append_df`` maintains the numbering but not the ids
        (idempotency), so a stream whose ids were dropped by a bulk
        append reloads BOTH here — otherwise an idempotent retry through
        ``append()`` would see an empty id map and dupe or reject.

        Runs under the core mutex, so a fill never interleaves a commit."""
        with self._core.mutex:
            cache, snap = self._state()
            st = cache.streams.get(stream_id)
            if st is not None and stream_id in cache.ids:
                return st
            key, log = snap or self.snapshot()
            rows = []
            if key:
                rows = (
                    log
                    .where(F.col("stream_id") == stream_id)
                    .orderBy(F.col("event_number").desc())
                    .limit(IDEMPOTENCY_WINDOW)
                    .select("event_number", "event_id", "event_type")
                    .collect()
                )
            last = int(rows[0]["event_number"]) if rows else NO_STREAM
            # A tombstone is always the stream's final event (appends are
            # rejected afterwards), so the bounded window always contains it.
            tomb = bool(rows) and rows[0]["event_type"] == STREAM_DELETED_EVENT_TYPE
            st = cache.streams[stream_id] = [last, tomb]
            # latest position wins for a re-committed id (rows arrive DESC;
            # build ASC so the most recent commit overwrites) — matches
            # _remember_id's append-time bookkeeping
            cache.ids[stream_id] = {
                r["event_id"]: int(r["event_number"]) for r in reversed(rows)
            }
            return st

    def _remember_id(self, stream_id: str, event_id: str, event_number: int) -> None:
        known = self._core.cache.ids.setdefault(stream_id, {})
        known[event_id] = event_number
        if len(known) > 2 * IDEMPOTENCY_WINDOW:  # trim to the recent window
            cutoff = event_number - IDEMPOTENCY_WINDOW
            for k in [k for k, v in known.items() if v < cutoff]:
                del known[k]

    # -- size validation (Grpc/Streams.Append.cs:18, TFConsts.cs:9-11) --
    def _validate_sizes(self, events: list[ProposedEvent]) -> None:
        total = 0
        for ev in events:
            n = ev.byte_size()
            if n > MAX_RECORD_SIZE:
                raise RecordTooLargeError(
                    f"event {ev.event_id} is {n} bytes; max record size is "
                    f"{MAX_RECORD_SIZE}"
                )
            total += n
        if total > self.max_append_size:
            raise MaxAppendSizeExceededError(
                f"append of {total} bytes exceeds maxAppendSize "
                f"{self.max_append_size}"
            )

    # -- the commit check (IndexWriter.CheckCommit analog) --
    def _check(self, stream_id: str, events: list[ProposedEvent], expected: int):
        """Returns ``"ok"`` or ``("idempotent", end_event_number)`` where
        ``end_event_number`` is the REPLAYED BATCH's own final event
        number (CommitCheckResult carries startEventNumber/endEventNumber
        of the original commit — a delayed retry must get its own
        positions back, not the stream's advanced head)."""
        last, tombstoned = self._stream_state(stream_id)
        if tombstoned:
            raise StreamDeletedError(stream_id)
        # a tombstone mid-batch would leave events committed ABOVE the
        # $streamDeleted, breaking "the tombstone is the stream's final
        # event" which tombstone detection depends on — reject before
        # any mutation (the delete surface writes it as a lone event)
        tomb_idx = next(
            (i for i, ev in enumerate(events)
             if ev.event_type == STREAM_DELETED_EVENT_TYPE), None)
        if tomb_idx is not None and tomb_idx != len(events) - 1:
            raise StreamDeletedError(stream_id)
        if expected == ANY:
            pass
        elif expected == STREAM_EXISTS:
            # StreamExists on a soft-deleted stream is CommitDecision.
            # Deleted (IndexWriter.CheckCommit:192-193) — unlike ANY /
            # NoStream, it does NOT recreate.
            if self._is_soft_deleted(stream_id):
                raise StreamDeletedError(stream_id)
            if last == NO_STREAM:
                # the stream also "exists" when only its METASTREAM has
                # events — metadata was set before the first append
                # (CheckCommit:195-200)
                meta_last, _ = self._stream_state(f"$${stream_id}")
                if meta_last == NO_STREAM:
                    raise WrongExpectedVersionError(stream_id, expected, last)
        elif expected != last:
            # NO_STREAM is exact version -1. On mismatch, walk the batch
            # against expected+1..expected+len (CheckCommit:236-280):
            # full positional match → CommitDecision.Idempotent; a
            # PARTIAL prefix match → CorruptedIdempotency, which the
            # reference answers as WrongExpectedVersion
            # (StorageWriterService.cs:688-691); a first-position miss
            # with NoStream on a soft-deleted stream → Ok (the recreate
            # path, CheckCommit:255-256).
            known = self._core.cache.ids.get(stream_id, {})
            if expected < last and events:
                for i, ev in enumerate(events):
                    if known.get(ev.event_id) == expected + 1 + i:
                        continue
                    if i == 0 and expected == NO_STREAM \
                            and self._is_soft_deleted(stream_id):
                        return "ok"  # soft-delete recreate
                    raise WrongExpectedVersionError(stream_id, expected, last)
                # idempotent replay reports the BATCH's own end number
                return ("idempotent", expected + len(events))
            raise WrongExpectedVersionError(stream_id, expected, last)
        else:
            # EXACT expected match is CommitDecision.Ok — the write
            # proceeds even when ids were committed at unrelated
            # positions (IndexWriter.CheckCommit:287; the positionless
            # dedupe below is an ANY/StreamExists-mode behavior only,
            # :204-233)
            return "ok"
        # ANY/STREAM_EXISTS positionless dedupe (CheckCommit:204-233):
        # the FIRST event id decides — unknown first id is a fresh write
        # for the WHOLE batch (later ids are not consulted; re-used ids
        # commit again at new positions); known first id requires every
        # id known → idempotent with the replayed batch's own end
        # position, else CorruptedIdempotency → WrongExpectedVersion
        known = self._core.cache.ids.get(stream_id, {})
        if events and events[0].event_id in known:
            if all(ev.event_id in known for ev in events):
                return ("idempotent", known[events[-1].event_id])
            raise WrongExpectedVersionError(stream_id, expected, last)
        return "ok"

    def _is_soft_deleted(self, stream_id: str) -> bool:
        """The reference's IIndexWriter.IsSoftDeleted: current metadata
        carries TruncateBefore == long.Max (`$tb` = MAX_LONG)."""
        if stream_id.startswith("$"):
            return False
        return self._current_meta(stream_id).get("$tb") == MAX_LONG

    def _current_meta(self, stream_id: str) -> dict:
        """The stream's current metadata document (latest $metadata event of
        `$$stream`, whole-document semantics — a metadata write REPLACES the
        document, StreamMetadata.cs:60-150), lazily read and cached beside
        the stream state (see ``_state``); a metastream append keeps it
        current."""
        with self._core.mutex:
            cache, snap = self._state()
            if stream_id in cache.meta:
                return cache.meta[stream_id]
            key, log = snap or self.snapshot()
            doc: dict = {}
            if key:
                rows = (
                    log
                    .where(
                        (F.col("stream_id") == f"$${stream_id}")
                        & (F.col("event_type") == METADATA_EVENT_TYPE)
                    )
                    .orderBy(F.col("event_number").desc())
                    .limit(1)
                    .select("data")
                    .collect()
                )
                if rows and rows[0]["data"]:
                    try:
                        doc = json.loads(rows[0]["data"]) or {}
                    except ValueError:
                        doc = {}
            cache.meta[stream_id] = doc
            return doc

    def append(
        self,
        stream_id: str,
        events: list[ProposedEvent],
        expected_version: int = ANY,
        created: datetime | None = None,
    ) -> int:
        """Append a batch to one stream; returns the new last event_number.

        The whole batch commits atomically (one parquet file). Appending to
        a soft-deleted stream RECREATES it (StorageWriterService.cs:374-416):
        event numbers continue after the old last, and $tb is rewritten to
        the first new event number so the old events stay invisible while
        the new ones show.

        The call queues on the shared write head and takes its mutex; the
        first caller to get it commits everything queued by then as ONE
        parquet file and ONE manifest publish (see ``_commit_group``), the
        reference's RequestManager pipeline of many in-flight appends per
        storage write. A lone caller commits alone. Per-append rejections
        such as WrongExpectedVersion raise only in their own caller.
        """
        if self._read_only:
            raise WriterFencedError(
                f"writer for {self.path} is read-only — appends go through "
                "the owning writer process"
            )
        self._validate_append(stream_id, events, expected_version)
        self._validate_sizes(events)
        item = _QueuedAppend(stream_id, events, expected_version, created)
        core = self._core
        core.pending.append(item)
        with core.mutex:
            # a previous holder drained and resolved the item, or it is
            # still queued and this caller commits the queue
            if item.result is None and item.error is None:
                batch = []
                while core.pending:
                    batch.append(core.pending.popleft())
                self._commit_group(batch)
        if item.error is not None:
            raise item.error
        return item.result

    def _apply_append(self, stream_id, events, expected_version, created,
                      rows_sink: list, touched: set) -> int:
        """Check one append and APPLY it to the head state, emitting its
        rows into ``rows_sink`` for the caller to commit merged with the
        rest of its group. All validations run BEFORE any mutation, so a
        rejected append never dirties state; after a failed physical
        commit the caller rolls ``touched`` streams back to the durable
        log via ``_rollback``."""
        core = self._core
        decision = self._check(stream_id, events, expected_version)
        if decision != "ok":
            return decision[1]  # ("idempotent", batch's own end number)
        now = created or datetime.now(timezone.utc)
        st = self._stream_state(stream_id)
        touched.add(stream_id)
        last = st[0]
        pos = core.last_position
        # once _check said "ok" the WHOLE batch commits fresh — the
        # reference never partially skips rows inside one transaction
        # (CheckCommit:204-233: a known id after an unknown FIRST id is
        # simply re-committed at a new position; a known FIRST id with a
        # later unknown one was already rejected as CorruptedIdempotency)
        first_new = None
        for ev in events:
            pos += 1
            last += 1
            if first_new is None:
                first_new = last
            self._remember_id(stream_id, ev.event_id, last)
            rows_sink.append(
                (
                    pos, stream_id, _category(stream_id), last,
                    ev.event_id, ev.event_type, ev.data, ev.metadata, now, ev.is_json,
                )
            )
            if ev.event_type == STREAM_DELETED_EVENT_TYPE:
                st[1] = True
        st[0] = last
        core.last_position = pos
        if first_new is not None:
            # keep the metadata cache current: a $metadata append to `$$X`
            # REPLACES X's document (the reference's GetStreamRawMeta always
            # reads the latest; a stale cached $tb would mis-trigger
            # recreate after set_stream_metadata overwrote it).
            if stream_id.startswith("$$"):
                for ev in events:
                    if ev.event_type == METADATA_EVENT_TYPE:
                        try:
                            doc = json.loads(ev.data or "{}") or {}
                        except ValueError:
                            doc = {}
                        core.cache.meta[stream_id[2:]] = doc
            # soft-delete recreate: a stream whose $tb == MAX_LONG comes
            # back to life on append — rewrite $tb to the first new number,
            # PRESERVING the rest of the metadata document
            # (SoftUndeleteRawMeta, StorageWriterService.cs:438-449). The
            # metastream rows join the SAME sink → same atomic commit.
            if not stream_id.startswith("$"):
                if self._current_meta(stream_id).get("$tb") == MAX_LONG:
                    doc = dict(self._current_meta(stream_id))
                    doc["$tb"] = first_new
                    self._apply_append(
                        f"$${stream_id}",
                        [ProposedEvent(METADATA_EVENT_TYPE,
                                       data=json.dumps(doc, sort_keys=True))],
                        ANY, created, rows_sink, touched,
                    )
        return last

    def _rollback(self, touched: set) -> None:
        """A physical commit failed after state was applied: restore the
        head state from the DURABLE log — drop the touched streams' state
        (it reloads lazily) and re-read the committed head position."""
        cache = self._core.cache
        for sid in touched:
            cache.streams.pop(sid, None)
            cache.ids.pop(sid, None)
            if sid.startswith("$$"):
                cache.meta.pop(sid[2:], None)
        self._core.last_position = self._durable_head()

    def _commit_group(self, batch: list[_QueuedAppend]) -> None:
        """Check, apply and commit a drained queue as one file, under the
        mutex. Every item leaves with a result or an error: a rejection
        (nothing applied yet) fails only its own caller; a fenced writer, a
        MID-APPLY failure (state half-applied, later appends would check
        against it) or a failed commit fails the whole group, commits
        nothing and restores the head state from the durable log."""
        rows: list[tuple] = []
        touched: set[str] = set()
        try:
            _verify_fence(self._core)
            for item in batch:
                rows_before, touched_before = len(rows), len(touched)
                try:
                    item.result = self._apply_append(
                        item.stream_id, item.events, item.expected,
                        item.created, rows, touched,
                    )
                except BaseException as e:
                    if len(rows) > rows_before or len(touched) > touched_before:
                        raise
                    item.error = e
            if rows:
                self._commit(rows)
        except BaseException as e:
            for item in batch:
                item.result = None
                if item.error is None:
                    item.error = e
            if touched:
                self._rollback(touched)

    def _publish_append(self, names: list[str]) -> None:
        """Publish an append commit's files to the manifest as a CAS
        against the generation this process last observed. A conflict
        means the snapshot moved underneath us: either a maintenance
        rewrite published in between (legitimate — re-sync the base and
        retry, the union is recomputed from the NEW snapshot) or our
        lock was stolen and the thief published (the fencing race
        ADVICE r5 called out) — ``_verify_fence`` then raises before any
        retry, so a fenced-out writer's publish FAILS instead of
        last-reader-winning over the thief's commit."""
        attempts = 0
        while True:
            try:
                self._core.manifest_seq = manifest.append_files(
                    self.path, names, base_seq=self._core.manifest_seq
                )
                return
            except manifest.ManifestConflictError:
                _verify_fence(self._core)  # fenced → raise, never retry
                attempts += 1
                if attempts >= 8:
                    raise
                self._core.manifest_seq = manifest.latest(self.path)[0]

    def append_df(self, batch: DataFrame, created: datetime | None = None) -> None:
        """Bulk path: append pre-shaped envelope rows (stream_id,
        event_type, data, metadata, event_id) — used by projection emission
        sinks where event ids are deterministic.

        Fully distributed: exactly-once dedupe is a left-anti join against
        the committed log on (stream_id, event_id); event numbers are a
        window partitioned by stream; global log positions come from
        per-stream contiguous blocks allocated from one per-stream count
        (one driver row per TOUCHED stream, never one per event). A
        $by_event_type-scale rebuild (one link per log event) never
        collects event rows to the driver.

        Within-stream numbering follows SOURCE order when the batch carries
        it (``source_log_position``/``emit_seq``, as projection emissions
        do — the reference appends emissions in fold order); otherwise the
        deterministic event_id order. Driver-side numbering state commits
        only AFTER the write succeeds — a failed Spark job leaves the
        writer's dense-numbering invariant intact for the retry.
        """
        if self._read_only:
            raise WriterFencedError(
                f"writer for {self.path} is read-only — appends go through "
                "the owning writer process"
            )
        with self._core.mutex:
            self._append_df_locked(batch, created)

    def _append_df_locked(self, batch: DataFrame, created) -> None:
        _verify_fence(self._core)
        core = self._core
        cache = core.cache
        order_cols = [
            c for c in ("source_log_position", "emit_seq") if c in batch.columns
        ]
        b = batch.select(
            "stream_id", "event_type", "data", "metadata", "event_id", *order_cols
        ).dropDuplicates(["stream_id", "event_id"])
        key, log = self.snapshot()
        if key:
            # exactly-once anti-join, PRUNED to the batch's own streams:
            # the log side filters on the touched stream set (one tiny
            # distinct over the batch), so the scan prunes by row-group
            # stats / buckets instead of shuffling the whole log. A batch
            # touching an enormous stream set falls back to the full
            # anti-join rather than building an oversized isin plan.
            ids = log.select("stream_id", "event_id")
            sids = [
                r["stream_id"]
                for r in b.select("stream_id").distinct().limit(10_001).collect()
            ]
            if len(sids) <= 10_000:
                ids = ids.where(F.col("stream_id").isin(sids))
            b = b.join(ids, ["stream_id", "event_id"], "left_anti")
        b = b.cache()
        try:
            # one job yields per-stream counts AND the size guard: the
            # single-event path validates MAX_RECORD_SIZE (TFConsts parity)
            # in _validate_sizes; the bulk path must enforce the same bound
            # or projection emissions could commit unreadably large rows.
            counts = b.groupBy("stream_id").agg(
                F.count(F.lit(1)).alias("count"),
                F.max(
                    F.coalesce(F.octet_length("data"), F.lit(0))
                    + F.coalesce(F.octet_length("metadata"), F.lit(0))
                ).alias("max_size"),
            ).collect()
            if not counts:
                return
            touched = sorted(r["stream_id"] for r in counts)
            # one batched job fills last-event-number for cold streams
            missing = [s for s in touched if s not in cache.streams]
            if missing and key:
                got = (
                    log
                    .where(F.col("stream_id").isin(missing))
                    .groupBy("stream_id")
                    .agg(
                        F.max("event_number").alias("last"),
                        F.max(
                            (F.col("event_type") == STREAM_DELETED_EVENT_TYPE).cast("int")
                        ).alias("tomb"),
                    )
                    .collect()
                )
                for r in got:
                    cache.streams[r["stream_id"]] = [int(r["last"]), bool(r["tomb"])]
            # tombstoned streams drop their rows silently below, so they
            # must not trip the size guard either: an oversize event bound
            # for a deleted stream was never going to commit, and aborting
            # the whole batch for it would fail every LIVE stream's rows
            live = [
                r for r in counts
                if not cache.streams.setdefault(r["stream_id"], [NO_STREAM, False])[1]
            ]
            oversized = [r for r in live if int(r["max_size"] or 0) > MAX_RECORD_SIZE]
            if oversized:
                raise RecordTooLargeError(
                    "bulk append contains events over MAX_RECORD_SIZE in streams: "
                    + ", ".join(sorted(r["stream_id"] for r in oversized)[:5])
                )
            by_stream = {r["stream_id"]: int(r["count"]) for r in live}
            alloc = []  # (stream_id, en_base, pos_base)
            new_last = core.last_position
            for sid in sorted(by_stream):
                st = cache.streams[sid]
                alloc.append((sid, st[0], new_last))
                new_last += by_stream[sid]
            if not alloc:
                return
            am = self.spark.createDataFrame(
                alloc, "stream_id string, en_base long, pos_base long"
            )
            order = [F.col(c) for c in order_cols] + [F.col("event_id")]
            w = Window.partitionBy("stream_id").orderBy(*order)
            now = created or datetime.now(timezone.utc)
            from .schema import category_of as _category_of

            out = (
                b.join(F.broadcast(am), "stream_id")
                .withColumn("_rn", F.row_number().over(w).cast("long"))
                .select(
                    (F.col("pos_base") + F.col("_rn")).alias("log_position"),
                    F.col("stream_id"),
                    (F.col("en_base") + F.col("_rn")).alias("event_number"),
                    "event_id", "event_type", "data", "metadata",
                    F.lit(now).alias("created"),
                    (F.col("event_type") != "$>").alias("is_json"),
                )
                # one source of truth for the stored category column —
                # schema.category_of (reference extractor edges included)
                .withColumn("category", _category_of(F.col("stream_id")))
                .select([f.name for f in EVENTS_SCHEMA.fields])
            )
            # staged, then moved in under fresh names: the manifest gains
            # exactly the files this commit wrote — never a superseded
            # file inside its grace period, nor one a concurrent rewrite
            # moved into the log dir during the write
            staging = os.path.join(self.path, f"_staging-{uuid.uuid4().hex}")
            out.write.parquet(staging)
            self._publish_append(manifest.move_in(
                self.path, staging,
                f"part-bulk-{core.last_position + 1:020d}-{uuid.uuid4().hex[:8]}",
            ))
            # the write committed — only now advance the numbering state
            core.last_position = new_last
            for sid, en_base, _pos in alloc:
                cache.streams[sid][0] = en_base + by_stream[sid]
                # the bulk path doesn't know which event_ids landed per
                # stream (collecting them would be one row per EVENT);
                # invalidate the id map so the next append() reloads it
                # from the log and idempotent retries keep working.
                cache.ids.pop(sid, None)
            self._notify_commit()
        finally:
            b.unpersist()

    # pyarrow schema mirroring EVENTS_SCHEMA (timestamp µs UTC — what
    # Spark's TimestampType reads back bit-identically).
    _ARROW_FIELDS = (
        ("log_position", "int64"), ("stream_id", "string"), ("category", "string"),
        ("event_number", "int64"), ("event_id", "string"), ("event_type", "string"),
        ("data", "string"), ("metadata", "string"), ("created", "ts"),
        ("is_json", "bool"),
    )

    def _commit(self, rows: list[tuple]) -> None:
        """Write one commit file directly with pyarrow on the driver — the
        StorageWriterService analog: the single writer appends to the log
        without a cluster round-trip. (Routing a 1-row batch through
        ``spark.createDataFrame(...).write`` costs seconds per commit —
        a Python-RDD-backed plan plus a full write job — for data that
        never needs an executor.) Readers see the file atomically: written
        dot-prefixed (ignored by Spark's file index), then renamed in.
        """
        import pyarrow as pa
        import pyarrow.parquet as pq

        types = {
            "int64": pa.int64(), "string": pa.string(), "bool": pa.bool_(),
            "ts": pa.timestamp("us", tz="UTC"),
        }
        schema = pa.schema([(n, types[t]) for n, t in self._ARROW_FIELDS])
        cols = list(zip(*rows))
        table = pa.Table.from_arrays(
            [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)],
            schema=schema,
        )
        name = f"part-writer-{rows[-1][0]:020d}-{uuid.uuid4().hex[:8]}.parquet"
        tmp = os.path.join(self.path, "." + name + ".tmp")
        pq.write_table(table, tmp, compression="snappy")
        os.rename(tmp, os.path.join(self.path, name))
        self._publish_append([name])
        self._notify_commit()

    # -- commit wake-ups (U3 long-poll support) --
    # The condition lives in the shared _PathCore, so a waiter parked via
    # one writer object wakes on commits made through any writer on the
    # same directory in this process.
    def _notify_commit(self) -> None:
        with self._core.cond:
            self._core.epoch += 1
            self._core.cond.notify_all()

    def commit_epoch(self) -> int:
        """Monotone counter of committed writes to this log (process-wide)."""
        with self._core.cond:
            return self._core.epoch

    def wait_for_commit(self, seen_epoch: int, timeout_s: float) -> int:
        """Block until a commit after ``seen_epoch`` lands or the timeout
        elapses; returns the current epoch (== ``seen_epoch`` on timeout)."""
        with self._core.cond:
            self._core.cond.wait_for(
                lambda: self._core.epoch > seen_epoch, timeout=timeout_s
            )
            return self._core.epoch

    def close(self) -> None:
        """Release the cross-process writer lock held by THIS PROCESS for
        the log directory (all in-process writer objects share the claim
        via the _PathCore). A crashed process needs no close — its lock is
        detected stale by pid-liveness and stolen by the next writer.
        Drops the cached snapshot DataFrame, and with the claim the shared
        head state."""
        with self.snapshot_lock:
            self._snapshot = None
        if self._read_only:
            return  # never held the fence — and must not release the
            # owning writer's claim through the shared core
        with self._core.mutex:
            _release_fence(self._core)

    def log_signature(self) -> frozenset:
        """Cheap change detector for logs written by ANOTHER process (no
        in-process commit notify): the set of committed parquet file names.
        One os.listdir — never a Spark job."""
        return frozenset(manifest.data_files(self.path))

    # -- delete surface (S8) --
    @staticmethod
    def _validate_append(stream_id: str, events, expected_version: int) -> None:
        """Structural write validation, the reference's exact rules:

        * stream id must not be empty or the bare metastream prefix
          (`SystemStreams.IsInvalidStream`: null/empty or "$$" —
          SystemNames.cs:55-58; ClientMessage.WriteEvents:186);
        * expected version must be an exact number ≥ 0 or one of
          NoStream/Any/StreamExists — below StreamExists(-4) or the
          historical Invalid(-3) are rejected (ClientMessage.cs:189-191);
        * every event needs a non-empty type and id (Data/Event.cs:30-35).

        ACL-style rules (who may write `$`-streams) are out of scope —
        this is the access-independent validation every writer applies."""
        if not stream_id or stream_id == METASTREAM_PREFIX:
            raise ValueError(
                f"invalid stream id {stream_id!r} (empty or bare '$$')")
        if expected_version < STREAM_EXISTS or expected_version == -3:
            raise ValueError(
                f"invalid expected_version {expected_version} (exact ≥ 0, "
                f"NO_STREAM {NO_STREAM}, ANY {ANY}, or "
                f"STREAM_EXISTS {STREAM_EXISTS})")
        for ev in events:
            if not ev.event_type:
                raise ValueError("empty eventType provided")
            if not ev.event_id:
                raise ValueError("empty eventId provided")

    def last_event_number(self, stream_id: str) -> int:
        """The stream's last event number, NO_STREAM when never written
        (IndexReader.GetStreamLastEventNumber — the head lookup every
        commit check starts from)."""
        return int(self._stream_state(stream_id)[0])

    def soft_delete(self, stream_id: str, metadata_writer=None) -> None:
        """Soft delete = write a FRESH metadata document containing only
        $tb = MAX_LONG (StorageWriterService.cs:510 constructs
        ``new StreamMetadata(truncateBefore: DeletedStream)`` — prior
        maxAge/maxCount are deliberately discarded by the delete; the
        recreate path's SoftUndeleteRawMeta preserves whatever document
        exists THEN, which is this $tb-only one). New appends recreate
        the stream."""
        self.append(
            f"$${stream_id}",
            [ProposedEvent(METADATA_EVENT_TYPE, data=f'{{"$tb": {MAX_LONG}}}')],
        )

    def hard_delete(self, stream_id: str) -> None:
        """Tombstone: a $streamDeleted event; stream can never be recreated."""
        self.append(
            stream_id,
            [ProposedEvent(STREAM_DELETED_EVENT_TYPE, data=None, is_json=False)],
        )

    def load(self) -> DataFrame:
        """The committed log as a DataFrame — a PINNED SNAPSHOT: the file
        list of the current generation (see ``manifest.py``) is resolved
        here, at DataFrame creation, so a concurrent maintenance rewrite
        can never FileNotFound this reader (superseded files are retained
        until ``vacuum``'s grace period expires).

        Each log generation is resolved ONCE: every load() in the same
        generation returns the same DataFrame, so its reads share one
        plan and pay for one file listing (Spark lists more than 32
        explicit paths with a job). The cache key is the RESOLVED path
        list, not the manifest's file names — archiving moves a file to
        the cold tier under the same name, and a DataFrame over the old
        hot path would then fail to read it."""
        return self.snapshot()[1]

    def snapshot(self) -> tuple[tuple[str, ...], DataFrame]:
        """``(key, load())``: the key is the tuple of resolved paths of
        the current generation; an empty key is an empty log."""
        return self._entry()[:2]

    def _entry(self) -> tuple[tuple[str, ...], DataFrame, _StreamCache]:
        """The current generation's cache entry: ``snapshot()`` plus the
        stream cache a handle without the fence fills (see ``_state``)."""
        key = tuple(manifest.resolve(self.path)[1])
        with self.snapshot_lock:
            if self._snapshot is not None and self._snapshot[0] == key:
                return self._snapshot
        entry = key, manifest.read_files(self.spark, key), _StreamCache()
        with self.snapshot_lock:
            self._snapshot = entry
        return entry

    def load_at(self, seq: int) -> DataFrame:
        """Time travel: the log as of manifest generation ``seq`` (see
        ``manifest.history``). Raises if that generation was never
        published or has been vacuumed away."""
        return self.snapshot_at(seq)[1]

    def snapshot_at(self, seq: int) -> tuple[tuple[str, ...], DataFrame]:
        """``(key, load_at(seq))``, keyed like ``snapshot``; not cached."""
        key = tuple(manifest.resolve(self.path, seq)[1])
        return key, manifest.read_files(self.spark, key)
