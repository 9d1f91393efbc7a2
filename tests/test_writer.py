"""Append-protocol semantics (S7/S8) — pytest analog of the reference's
IndexWriter.CheckCommit and Idempotency test fixtures."""

import pytest

from eventstore_spark.writer import (
    ANY, NO_STREAM, STREAM_EXISTS,
    EventLogWriter, ProposedEvent,
    StreamDeletedError, WrongExpectedVersionError,
)


@pytest.fixture()
def log(spark, tmp_path):
    return EventLogWriter(spark, str(tmp_path / "log"))


def test_append_assigns_positions(log):
    last = log.append("account-1", [ProposedEvent("A", "{}"), ProposedEvent("B", "{}")])
    assert last == 1
    df = log.load().orderBy("log_position").collect()
    assert [(r.stream_id, r.event_number, r.log_position) for r in df] == [
        ("account-1", 0, 1), ("account-1", 1, 2),
    ]
    assert df[0].category == "account"


def test_expected_version_checks(log):
    log.append("s-1", [ProposedEvent("A")], expected_version=NO_STREAM)
    with pytest.raises(WrongExpectedVersionError):
        log.append("s-1", [ProposedEvent("B")], expected_version=NO_STREAM)
    with pytest.raises(WrongExpectedVersionError):
        log.append("s-1", [ProposedEvent("B")], expected_version=5)
    log.append("s-1", [ProposedEvent("B")], expected_version=0)
    with pytest.raises(WrongExpectedVersionError):
        log.append("s-2", [ProposedEvent("X")], expected_version=STREAM_EXISTS)
    log.append("s-1", [ProposedEvent("C")], expected_version=STREAM_EXISTS)


def test_wait_for_commit_semantics(log):
    """Direct unit coverage of the commit condition (U3 wakeups):
    timeout returns the seen epoch after ~timeout; a commit from another
    thread wakes a parked waiter within the <100 ms contract (generous
    scheduling slack in the assert)."""
    import threading
    import time as _t

    e0 = log.commit_epoch()
    t0 = _t.monotonic()
    assert log.wait_for_commit(e0, 0.3) == e0  # no commit → timeout
    assert _t.monotonic() - t0 >= 0.25

    woke = {}

    def waiter():
        woke["epoch"] = log.wait_for_commit(e0, 30.0)
        woke["at"] = _t.monotonic()

    th = threading.Thread(target=waiter)
    th.start()
    _t.sleep(0.2)  # let the waiter park
    log.append("wc-1", [ProposedEvent("E", "{}")])
    append_done = _t.monotonic()
    th.join(10)
    assert woke["epoch"] > e0
    # notify fires inside append(); the waiter must beat the 30 s timeout
    # by orders of magnitude
    assert woke["at"] <= append_done + 0.5
    # epoch is monotone and visible to a fresh reader of the counter
    assert log.commit_epoch() == woke["epoch"]


def test_idempotent_replay(log):
    evs = [ProposedEvent("A", event_id="e1"), ProposedEvent("B", event_id="e2")]
    last1 = log.append("s-1", evs, expected_version=NO_STREAM)
    # exact replay with the same expected version → idempotent, no new rows
    last2 = log.append("s-1", evs, expected_version=NO_STREAM)
    assert last1 == last2 == 1
    assert log.load().count() == 2
    # replay in ANY mode → also deduped
    log.append("s-1", evs, expected_version=ANY)
    assert log.load().count() == 2


def test_hard_delete_blocks_appends(log):
    log.append("s-1", [ProposedEvent("A")])
    log.hard_delete("s-1")
    with pytest.raises(StreamDeletedError):
        log.append("s-1", [ProposedEvent("B")])


def test_soft_delete_writes_metastream(log):
    log.append("s-1", [ProposedEvent("A")])
    log.soft_delete("s-1")
    rows = log.load().where("stream_id = '$$s-1'").collect()
    assert len(rows) == 1 and rows[0].event_type == "$metadata"


def test_recovery_from_disk(spark, tmp_path):
    path = str(tmp_path / "log")
    w1 = EventLogWriter(spark, path)
    w1.append("s-1", [ProposedEvent("A", event_id="e1")])
    w1.append("s-2", [ProposedEvent("B")])
    # new writer instance rebuilds stats and continues the total order
    w2 = EventLogWriter(spark, path)
    last = w2.append("s-1", [ProposedEvent("C")], expected_version=0)
    assert last == 1
    df = w2.load()
    assert df.count() == 3
    assert df.agg({"log_position": "max"}).collect()[0][0] == 3
    # idempotency map survives recovery
    w2.append("s-1", [ProposedEvent("A", event_id="e1")], expected_version=ANY)
    assert w2.load().count() == 3


def test_soft_delete_recreate_on_append(log):
    """StorageWriterService.cs:374-416: appending to a soft-deleted stream
    recreates it — event numbers continue, $tb moves to the first new one."""
    log.append("s-1", [ProposedEvent("A"), ProposedEvent("B")])
    log.soft_delete("s-1")
    last = log.append("s-1", [ProposedEvent("C")])
    assert last == 2  # numbering continues after the soft delete
    import json

    metas = (
        log.load().where("stream_id = '$$s-1'").orderBy("event_number").collect()
    )
    tbs = [json.loads(r.data)["$tb"] for r in metas]
    from eventstore_spark.schema import MAX_LONG

    assert tbs == [MAX_LONG, 2]  # recreate rewrote $tb to first new number


def test_append_size_guards(log):
    from eventstore_spark.writer import (
        MaxAppendSizeExceededError, RecordTooLargeError, MAX_RECORD_SIZE,
    )

    with pytest.raises(MaxAppendSizeExceededError):
        log.append("s-1", [ProposedEvent("A", "x" * (log.max_append_size + 1))])
    small = EventLogWriter(log.spark, log.path, max_append_size=MAX_RECORD_SIZE * 2)
    with pytest.raises(RecordTooLargeError):
        small.append("s-1", [ProposedEvent("A", "x" * (MAX_RECORD_SIZE + 1))])


def test_bulk_oversize_to_tombstoned_stream_does_not_abort(spark, tmp_path):
    """The bulk size guard must not fire for rows bound to a tombstoned
    stream — those rows are silently dropped anyway, and aborting the
    batch would fail every live stream's rows with them."""
    from pyspark.sql import functions as F

    from eventstore_spark.writer import MAX_RECORD_SIZE

    w = EventLogWriter(spark, str(tmp_path / "log"))
    w.append("dead-1", [ProposedEvent("A")])
    w.hard_delete("dead-1")
    big = "x" * (MAX_RECORD_SIZE + 1)
    batch = spark.createDataFrame(
        [("dead-1", "E", big, None, "big-1"),
         ("live-1", "E", '{"ok": 1}', None, "ok-1")],
        "stream_id string, event_type string, data string, "
        "metadata string, event_id string",
    )
    w.append_df(batch)  # must not raise
    assert w.load().where("stream_id = 'live-1'").count() == 1
    assert w.load().where("event_id = 'big-1'").count() == 0
    # but a LIVE stream's oversize row still aborts the batch
    from eventstore_spark.writer import RecordTooLargeError

    bad = spark.createDataFrame(
        [("live-2", "E", big, None, "big-2")],
        "stream_id string, event_type string, data string, "
        "metadata string, event_id string",
    )
    with pytest.raises(RecordTooLargeError):
        w.append_df(bad)


def test_lazy_recovery_reads_one_scalar(spark, tmp_path):
    """Reopening a writer must not collect the log: only max(log_position)
    is read eagerly; per-stream state loads on first touch of that stream."""
    path = str(tmp_path / "log")
    w1 = EventLogWriter(spark, path)
    for i in range(5):
        w1.append(f"s-{i}", [ProposedEvent("A"), ProposedEvent("B")])
    w1.close()  # writers in one process share the head; start it cold
    w2 = EventLogWriter(spark, path)
    assert w2._core.last_position == 10
    assert w2._core.cache.streams == {}  # nothing preloaded
    w2.append("s-3", [ProposedEvent("C")], expected_version=1)
    # only the touched stream was loaded
    assert set(w2._core.cache.streams) == {"s-3"}
    assert w2._core.cache.streams["s-3"][0] == 2


def test_append_df_is_distributed_and_exactly_once(spark, tmp_path):
    """Bulk emission append (the $by_event_type-rebuild shape): 100k link
    rows across many streams land without collecting event rows to the
    driver, with contiguous per-stream numbering and globally unique
    positions; a replay dedupes via the log anti-join."""
    from pyspark.sql import functions as F

    w = EventLogWriter(spark, str(tmp_path / "log"))
    w.append("seed-1", [ProposedEvent("A")])
    n = 100_000
    batch = (
        spark.range(n)
        .select(
            F.concat(F.lit("$et-t"), (F.col("id") % 50).cast("string")).alias("stream_id"),
            F.lit("$>").alias("event_type"),
            F.concat(F.col("id").cast("string"), F.lit("@src")).alias("data"),
            F.lit(None).cast("string").alias("metadata"),
            F.concat(F.lit("link-"), F.col("id").cast("string")).alias("event_id"),
        )
    )
    w.append_df(batch)
    df = w.load()
    assert df.count() == n + 1
    # positions globally unique and dense above the seed
    agg = df.agg(F.countDistinct("log_position"), F.max("log_position")).collect()[0]
    assert agg[0] == n + 1 and agg[1] == n + 1
    # per-stream numbering dense from 0
    per = (
        df.where("stream_id like '$et-%'")
        .groupBy("stream_id")
        .agg(F.min("event_number"), F.max("event_number"), F.count("*"))
        .collect()
    )
    assert all(r[1] == 0 and r[2] == r[3] - 1 for r in per)
    # replay: nothing appended twice
    w.append_df(batch)
    assert w.load().count() == n + 1


# ---------------------------------------------------------------------------
# Single-writer enforcement (round 5): cross-process fencing + in-process
# shared total order (reference: one StorageWriterService thread owns the
# log, StorageWriterService.cs:283).
# ---------------------------------------------------------------------------


def _write_lock(path, pid, token="foreign"):
    import json as _json
    import os as _os

    _os.makedirs(path, exist_ok=True)
    with open(_os.path.join(path, "_writer.lock"), "w") as f:
        f.write(_json.dumps({"pid": pid, "token": token}))


def test_fencing_blocks_live_foreign_writer(spark, tmp_path):
    """A lock held by a LIVE foreign process makes construction raise."""
    from eventstore_spark.writer import WriterFencedError

    path = str(tmp_path / "log")
    _write_lock(path, pid=1)  # pid 1 (init) is always alive
    with pytest.raises(WriterFencedError):
        EventLogWriter(spark, path)


def test_fencing_steals_stale_lock_and_recovers(spark, tmp_path):
    """A lock left by a DEAD process (crash) is stolen; the writer works."""
    import subprocess

    path = str(tmp_path / "log")
    p = subprocess.Popen(["true"])
    p.wait()
    _write_lock(path, pid=p.pid)  # dead pid → stale
    w = EventLogWriter(spark, path)
    w.append("s-1", [ProposedEvent("A")])
    assert w.load().count() == 1


def test_fence_takeover_fails_commit_without_corruption(spark, tmp_path):
    """A writer whose lock was taken over (simulating a steal after this
    process was wrongly judged dead) fails its NEXT commit and leaves
    numbering state intact — nothing half-applied."""
    from eventstore_spark.writer import WriterFencedError

    path = str(tmp_path / "log")
    w = EventLogWriter(spark, path)
    w.append("s-1", [ProposedEvent("A")])
    pos_before = w._core.last_position
    _write_lock(path, pid=1, token="stolen")  # foreign claim on disk
    with pytest.raises(WriterFencedError):
        w.append("s-1", [ProposedEvent("B")])
    assert w._core.last_position == pos_before  # staged, not applied
    assert w.load().count() == 1


def test_in_process_writers_share_total_order(spark, tmp_path):
    """Two writer objects on one directory (the writer+engine test shape)
    serialize through the shared core: positions stay globally dense and
    per-stream numbering stays correct across objects."""
    path = str(tmp_path / "log")
    w1 = EventLogWriter(spark, path)
    w2 = EventLogWriter(spark, path)
    w1.append("a-1", [ProposedEvent("A")])          # a-1 #0, pos 1
    w2.append("b-1", [ProposedEvent("B")])          # b-1 #0, pos 2
    w2.append("a-1", [ProposedEvent("C")], expected_version=0)  # a-1 #1, pos 3
    # w1 sees w2's commit to a-1 through the shared head state
    last = w1.append("a-1", [ProposedEvent("D")], expected_version=1)
    assert last == 2
    rows = w1.load().orderBy("log_position").collect()
    assert [r.log_position for r in rows] == [1, 2, 3, 4]
    assert [
        (r.stream_id, r.event_number) for r in rows
    ] == [("a-1", 0), ("b-1", 0), ("a-1", 1), ("a-1", 2)]


def test_closed_writer_refuses_commits_then_reopen_works(spark, tmp_path):
    from eventstore_spark.writer import WriterFencedError

    path = str(tmp_path / "log")
    w = EventLogWriter(spark, path)
    w.append("s-1", [ProposedEvent("A")])
    w.close()
    with pytest.raises(WriterFencedError):
        w.append("s-1", [ProposedEvent("B")])
    w2 = EventLogWriter(spark, path)  # fresh claim succeeds
    assert w2.append("s-1", [ProposedEvent("B")], expected_version=0) == 1


def test_manifest_publish_is_cas(tmp_path):
    """Two publishers racing the same generation: exactly one wins, the
    loser raises instead of silently overwriting the snapshot."""
    from eventstore_spark import manifest
    from eventstore_spark.manifest import ManifestConflictError

    path = str(tmp_path / "log")
    manifest._write(path, 5, ["a.parquet"])
    with pytest.raises(ManifestConflictError):
        manifest._write(path, 5, ["b.parquet"])
    assert manifest.files_at(path, 5) == ["a.parquet"]


def test_fencing_cross_process_real(spark, tmp_path):
    """End-to-end cross-process story with a REAL second process: a child
    acquires the writer lock through the library and holds it → writer
    construction here is refused; the child dies → the lock is stale and
    the next writer steals it and appends."""
    import subprocess
    import sys

    from eventstore_spark.writer import WriterFencedError

    path = str(tmp_path / "log")
    child = (
        "import sys, time\n"
        "sys.path.insert(0, '/root/repo')\n"
        "from eventstore_spark.writer import _acquire_fence, _core_for\n"
        "import os; os.makedirs(sys.argv[1], exist_ok=True)\n"
        "_acquire_fence(_core_for(sys.argv[1]))\n"
        "print('locked', flush=True)\n"
        "time.sleep(60)\n"
    )
    p = subprocess.Popen(
        [sys.executable, "-c", child, path],
        stdout=subprocess.PIPE, text=True,
    )
    try:
        assert p.stdout.readline().strip() == "locked"
        with pytest.raises(WriterFencedError):
            EventLogWriter(spark, path)
    finally:
        p.kill()
        p.wait()
    w = EventLogWriter(spark, path)  # holder dead → stale → stolen
    w.append("s-1", [ProposedEvent("A")])
    assert w.load().count() == 1


def test_fencing_wait_mode_acquires_after_release(spark, tmp_path):
    """lock_timeout_s > 0: a second writer WAITS for the holder instead
    of raising — here a thread releases the first claim mid-wait and the
    waiter proceeds."""
    import threading
    import time as _t

    path = str(tmp_path / "log")
    w1 = EventLogWriter(spark, path)
    w1.append("s-1", [ProposedEvent("A")])

    # make the lock look foreign-but-live so the waiter actually waits
    _write_lock(path, pid=1, token="held-elsewhere")
    released = {}

    def release_later():
        _t.sleep(0.6)
        import os as _os

        _os.remove(_os.path.join(path, "_writer.lock"))
        released["at"] = _t.monotonic()

    th = threading.Thread(target=release_later)
    th.start()
    t0 = _t.monotonic()
    # reset the in-process claim so acquisition truly goes to disk
    from eventstore_spark.writer import _core_for

    _core_for(path).fence_token = None
    w2 = EventLogWriter(spark, path, lock_timeout_s=10.0)
    took = _t.monotonic() - t0
    th.join()
    assert took >= 0.5  # actually waited for the release
    assert w2.append("s-1", [ProposedEvent("B")], expected_version=0) == 1


def _run_queued(w, calls):
    """Run each call on its own thread while the test holds the write
    head's mutex; release it once every call is queued, so the first
    thread to take the mutex commits them all as ONE group."""
    import threading
    import time as _t

    threads = [threading.Thread(target=c) for c in calls]
    with w._core.mutex:
        for t in threads:
            t.start()
        deadline = _t.monotonic() + 30
        while len(w._core.pending) < len(calls) and _t.monotonic() < deadline:
            _t.sleep(0.01)
        assert len(w._core.pending) == len(calls)
    for t in threads:
        t.join(timeout=60)
    assert all(not t.is_alive() for t in threads)  # nobody hangs


def test_group_commit_batches_concurrent_appends(spark, tmp_path):
    """Group commit (the reference RequestManager's many-in-flight-one-
    storage-write shape): appends that queue while a commit holds the
    write head land in ONE commit file, with the total order and
    per-stream numbering exactly as if appended sequentially."""
    from eventstore_spark import manifest as M

    path = str(tmp_path / "log")
    w = EventLogWriter(spark, path)
    w.append("seed-1", [ProposedEvent("E")])
    files_before = len(M.data_files(path))
    n_streams, per_stream = 4, 2

    def call(sid, i):
        return lambda: w.append(sid, [ProposedEvent("E", f'{{"i": {i}}}')])

    _run_queued(w, [call(f"s-{i % n_streams}", i)
                    for i in range(n_streams * per_stream)])
    assert len(M.data_files(path)) == files_before + 1  # one commit
    n = n_streams * per_stream + 1
    rows = w.load().collect()
    assert sorted(r.log_position for r in rows) == list(range(1, n + 1))
    for s in range(n_streams):
        nums = sorted(r.event_number for r in rows if r.stream_id == f"s-{s}")
        assert nums == list(range(per_stream))
    w.close()


def test_group_commit_isolates_per_append_errors(spark, tmp_path):
    """A rejected append inside a group (wrong expected version) errors
    only its caller; group-mates commit normally."""
    path = str(tmp_path / "log")
    w = EventLogWriter(spark, path)
    w.append("s-1", [ProposedEvent("A")])
    results = {}

    def good():
        results["good"] = w.append("s-2", [ProposedEvent("B")])

    def bad():
        try:
            w.append("s-1", [ProposedEvent("C")], expected_version=7)
            results["bad"] = "no error"
        except WrongExpectedVersionError:
            results["bad"] = "raised"

    _run_queued(w, [good, bad])
    assert results == {"good": 0, "bad": "raised"}
    assert w.load().count() == 2  # A and B, no C
    # idempotency/numbering still coherent after the mixed group
    assert w.append("s-1", [ProposedEvent("D")], expected_version=0) == 1
    w.close()


def test_group_commit_soft_delete_recreate_in_group(spark, tmp_path):
    """The recreate path's metastream write joins the SAME group commit
    (one file for stream rows + $tb rewrite)."""
    path = str(tmp_path / "log")
    w = EventLogWriter(spark, path)
    w.append("s-1", [ProposedEvent("A")])
    w.soft_delete("s-1")
    last = w.append("s-1", [ProposedEvent("B")])
    assert last == 1
    import json as _json

    metas = w.load().where("stream_id = '$$s-1'").orderBy("event_number").collect()
    from eventstore_spark.schema import MAX_LONG

    assert [_json.loads(r.data)["$tb"] for r in metas] == [MAX_LONG, 1]
    assert [r.event_number for r in
            w.load().where("stream_id = 's-1'").orderBy("event_number").collect()] == [0, 1]
    w.close()


def test_group_commit_mid_apply_failure_aborts_group_cleanly(spark, tmp_path, monkeypatch):
    """An INFRASTRUCTURE failure mid-apply (not a rejection) aborts the
    whole group: nothing commits, every caller gets the error (none
    hang), and the writer recovers — the next appends work and numbering
    continues from the durable log."""
    path = str(tmp_path / "log")
    w = EventLogWriter(spark, path)
    w.append("s-1", [ProposedEvent("A")])  # durable baseline

    orig = EventLogWriter._current_meta

    def poisoned(self, sid):
        if sid == "boom-1":
            raise RuntimeError("simulated storage failure")
        return orig(self, sid)

    monkeypatch.setattr(EventLogWriter, "_current_meta", poisoned)
    errs, oks = [], []

    def good(sid):
        try:
            oks.append((sid, w.append(sid, [ProposedEvent("B")])))
        except Exception as e:
            errs.append((sid, type(e).__name__))

    def bad():
        try:
            w.append("boom-1", [ProposedEvent("C")])
            oks.append(("boom-1", "?"))
        except RuntimeError:
            errs.append(("boom-1", "RuntimeError"))

    _run_queued(w, [lambda: good("s-2"), bad, lambda: good("s-3")])
    # the poisoned append definitely failed; group-mates either aborted
    # with it (same group) or committed (different group) — but the LOG
    # is consistent either way
    assert ("boom-1", "RuntimeError") in errs
    monkeypatch.setattr(EventLogWriter, "_current_meta", orig)
    rows = w.load().collect()
    committed = {r.stream_id for r in rows}
    assert "boom-1" not in committed
    positions = sorted(r.log_position for r in rows)
    assert positions == list(range(1, len(rows) + 1))  # dense, no holes
    for sid, last in oks:
        assert sid in committed and last == 0
    # recovery: appends keep working with correct numbering
    assert w.append("s-1", [ProposedEvent("D")], expected_version=0) == 1
    assert w.append("s-2", [ProposedEvent("E")]) >= 0
    rows = w.load().collect()
    assert sorted(r.log_position for r in rows) == list(range(1, len(rows) + 1))
    w.close()


def test_group_commit_append_after_close_fails_fast(spark, tmp_path):
    """append() on a CLOSED writer raises WriterFencedError immediately
    instead of parking on the write head (ADVICE r5)."""
    from eventstore_spark.writer import WriterFencedError

    w = EventLogWriter(spark, str(tmp_path / "gclose"))
    w.append("s-1", [ProposedEvent("A")])
    w.close()
    with pytest.raises(WriterFencedError):
        w.append("s-1", [ProposedEvent("B")])


def test_append_publish_is_cas_against_observed_manifest(spark, tmp_path):
    """The append path's manifest publish CASes against the generation
    the writer last observed: a snapshot that moved (here: a maintenance
    rewrite) is re-synced and retried — the commit lands and the manifest
    carries BOTH the rewrite's files and the append's."""
    from eventstore_spark import manifest as M
    from eventstore_spark.maintenance import optimize_layout

    path = str(tmp_path / "caslog")
    w = EventLogWriter(spark, path)
    w.append("s-1", [ProposedEvent("A"), ProposedEvent("B")])
    seq_before = M.latest(path)[0]
    # a rewrite publishes a new generation OUTSIDE the writer's knowledge
    optimize_layout(spark, path, target_files=1)
    assert M.latest(path)[0] == seq_before + 1
    assert w._core.manifest_seq == seq_before  # stale on purpose
    w.append("s-1", [ProposedEvent("C")])  # conflict → resync → retry
    seq, files = M.latest(path)
    assert seq == seq_before + 2
    assert w._core.manifest_seq == seq
    rows = w.load().orderBy("log_position").collect()
    assert [r.event_type for r in rows] == ["A", "B", "C"]
    w.close()


def test_fenced_writer_publish_fails_even_on_manifest_conflict(spark, tmp_path):
    """A writer whose lock was stolen mid-commit must NOT re-sync-and-
    retry its way past the conflict: _publish_append re-verifies the
    fence and raises."""
    import json as _json
    import os as _os

    from eventstore_spark.writer import LOCK_FILE, WriterFencedError

    path = str(tmp_path / "fencedcas")
    w = EventLogWriter(spark, path)
    w.append("s-1", [ProposedEvent("A")])
    # simulate a thief: overwrite the lock with a foreign token AND move
    # the manifest so the publish path hits the conflict branch
    with open(_os.path.join(path, LOCK_FILE), "w") as f:
        _json.dump({"pid": 2**22 + 7, "token": "stolen"}, f)
    w._core.manifest_seq -= 1  # stale base → guaranteed conflict
    with pytest.raises(WriterFencedError):
        w.append("s-1", [ProposedEvent("B")])
    # in-memory state rolled back: nothing half-applied
    assert w.load().count() == 1


def test_lock_records_pid_start_time_and_detects_recycling(spark, tmp_path):
    """The lock carries the holder pid's kernel start time; a lock whose
    pid is alive but has a DIFFERENT start time (recycled pid) is judged
    stale and stolen instead of held hostage (VERDICT r5 polish #8)."""
    import json as _json
    import os as _os

    from eventstore_spark.writer import (
        LOCK_FILE, _holder_alive, _pid_start_time, _read_lock,
    )

    path = str(tmp_path / "pidlock")
    w = EventLogWriter(spark, path)
    cur = _read_lock(_os.path.join(path, LOCK_FILE))
    own_start = _pid_start_time(_os.getpid())
    if own_start is not None:  # /proc available (Linux)
        assert cur["pid_start"] == own_start
    w.close()
    # a live pid (pid 1) recorded with a WRONG start time == recycled
    if _pid_start_time(1) is not None:
        assert not _holder_alive({"pid": 1, "pid_start": -12345})
        lock = _os.path.join(path, LOCK_FILE)
        with open(lock, "w") as f:
            _json.dump({"pid": 1, "pid_start": -12345, "token": "x"}, f)
        w2 = EventLogWriter(spark, path)  # steals the recycled-pid lock
        assert _read_lock(lock)["pid"] == _os.getpid()
        w2.close()


def test_read_only_writer_beside_live_foreign_holder(spark, tmp_path):
    """read_only=True opens WITHOUT claiming the writer lock, even while
    a live foreign process holds it — N reader processes beside one
    writer (the reference's many-read-connections model). Appends and
    close() through the read-only handle never touch the claim."""
    from eventstore_spark.writer import LOCK_FILE, WriterFencedError, _read_lock

    path = str(tmp_path / "rolog")
    w = EventLogWriter(spark, path)
    w.append("s-1", [ProposedEvent("A"), ProposedEvent("B")])
    w.close()  # release our claim, then plant a LIVE foreign holder (pid 1)
    import json as _json
    import os as _os

    with open(_os.path.join(path, LOCK_FILE), "w") as f:
        _json.dump({"pid": 1, "token": "foreign"}, f)
    with pytest.raises(WriterFencedError):
        EventLogWriter(spark, path)  # a normal writer is refused
    ro = EventLogWriter(spark, path, read_only=True)  # a reader is not
    assert ro.load().count() == 2
    with pytest.raises(WriterFencedError):
        ro.append("s-1", [ProposedEvent("C")])
    with pytest.raises(WriterFencedError):
        ro.append_df(ro.load().limit(0))
    ro.close()  # must NOT delete/alter the foreign lock
    assert _read_lock(_os.path.join(path, LOCK_FILE))["token"] == "foreign"


def test_read_only_engine_cross_process(spark, tmp_path):
    """A REAL second process opens the store read_only while this
    process owns the writer: reads (incl. name-routed system streams)
    work; appends raise."""
    import subprocess
    import sys

    from eventstore_spark.engine import EventStoreEngine

    path = str(tmp_path / "roeng")
    eng = EventStoreEngine(spark, path)
    eng.append("acct-1", [ProposedEvent("Op", '{"v": 1}')])
    eng.append("acct-2", [ProposedEvent("Op", '{"v": 2}')])
    child = (
        "import sys\n"
        "sys.path.insert(0, '/root/repo')\n"
        "from eventstore_spark.session import get_spark\n"
        "from eventstore_spark.engine import EventStoreEngine\n"
        "from eventstore_spark.writer import ProposedEvent, WriterFencedError\n"
        "spark = get_spark('ro-child')\n"
        "e = EventStoreEngine(spark, sys.argv[1], read_only=True)\n"
        "assert e.read_stream('acct-1').count() == 1\n"
        "assert e.read_stream('$ce-acct').count() == 2\n"
        "try:\n"
        "    e.append('acct-1', [ProposedEvent('Nope')])\n"
        "    print('FAIL-appended', flush=True)\n"
        "except WriterFencedError:\n"
        "    print('ok', flush=True)\n"
        "e.close()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", child, path],
        capture_output=True, text=True, timeout=300,
    )
    assert out.stdout.strip().endswith("ok"), (out.stdout, out.stderr[-2000:])
    # the owner keeps appending — its claim was never disturbed
    eng.append("acct-1", [ProposedEvent("Op", '{"v": 3}')])
    assert eng.read_stream("acct-1").count() == 2
    eng.close()


def _foreign_commit(path, rows):
    """Publish ``rows`` (EVENTS_SCHEMA order, ``created`` filled in) the
    way another writer process would: one parquet file in the log
    directory plus a manifest publish on top of the latest generation."""
    import os as _os
    import uuid as _uuid
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from eventstore_spark import manifest as M

    schema = pa.schema([
        ("log_position", pa.int64()), ("stream_id", pa.string()),
        ("category", pa.string()), ("event_number", pa.int64()),
        ("event_id", pa.string()), ("event_type", pa.string()),
        ("data", pa.string()), ("metadata", pa.string()),
        ("created", pa.timestamp("us", tz="UTC")), ("is_json", pa.bool_()),
    ])
    now = datetime.now(timezone.utc)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, (*r[:8], now, r[8]))) for r in rows],
        schema=schema,
    )
    name = f"part-foreign-{_uuid.uuid4().hex[:8]}.parquet"
    pq.write_table(table, _os.path.join(path, name))
    M.append_files(path, [name], base_seq=M.latest(path)[0])


def test_read_only_engine_follows_foreign_commits(spark, tmp_path):
    """A read-only handle keeps its stream state per generation: after
    another process commits, a newly written stream reads as Success and
    a stream it hard-deleted raises StreamDeletedError — the same
    answers a freshly opened read-only engine gives."""
    from eventstore_spark.engine import EventStoreEngine

    path = str(tmp_path / "rofollow")
    w = EventLogWriter(spark, path)
    w.append("gone-1", [ProposedEvent("Noted", "{}")])  # position 1
    w.close()
    ro = EventStoreEngine(spark, path, read_only=True)
    assert ro.read_stream_page("acct-9").result == "NoStream"
    assert ro.read_stream_page("gone-1").result == "Success"
    _foreign_commit(path, [
        (2, "acct-9", "acct", 0, "f-1", "Opened", "{}", None, True),
        (3, "gone-1", "gone", 1, "f-2", "$streamDeleted", None, None, False),
    ])
    page = ro.read_stream_page("acct-9")
    assert page.result == "Success" and page.events.count() == 1
    with pytest.raises(StreamDeletedError):
        ro.read_stream_page("gone-1")
    ro.close()


def test_stream_state_fill_never_interleaves_a_commit(spark, tmp_path, monkeypatch):
    """A reader that loads a stream's state from a snapshot taken BEFORE
    an append must not install it after the append committed: event
    numbers stay dense. The reader's snapshot is held until the append
    returns (or 3 s pass, when the append waits for the reader)."""
    import sys
    import threading

    from eventstore_spark.engine import EventStoreEngine

    path = str(tmp_path / "race")
    w = EventLogWriter(spark, path)
    w.append("s-1", [ProposedEvent("E") for _ in range(5)])  # 0..4
    w.close()
    eng = EventStoreEngine(spark, path)
    taken, appended = threading.Event(), threading.Event()
    orig = EventLogWriter.snapshot

    def held(self):
        snap = orig(self)
        caller = sys._getframe(1).f_code.co_name
        if (threading.current_thread().name == "reader"
                and caller == "_stream_state" and not taken.is_set()):
            taken.set()
            appended.wait(timeout=3)
        return snap

    monkeypatch.setattr(EventLogWriter, "snapshot", held)
    reader = threading.Thread(
        target=lambda: eng.read_stream_page("s-1"), name="reader")
    reader.start()
    assert taken.wait(timeout=120)
    assert eng.append("s-1", [ProposedEvent("E")]) == 5
    appended.set()
    reader.join(timeout=120)
    assert not reader.is_alive()
    assert eng.append("s-1", [ProposedEvent("E")]) == 6
    nums = [r.event_number for r in
            eng.writer.load().where("stream_id = 's-1'").collect()]
    assert sorted(nums) == list(range(7))
    eng.close()


# ---------------------------------------------------------------------------
# Round 8 storage-core review: commit-check reference parity
# ---------------------------------------------------------------------------


def test_exact_expected_match_commits_despite_known_ids(log):
    """IndexWriter.CheckCommit:287 — an EXACT expected-version match is
    CommitDecision.Ok: the write proceeds even when the batch's ids were
    committed earlier at unrelated positions (the positionless dedupe is
    ANY/STREAM_EXISTS-mode behavior only, :204-233)."""
    log.append("s-1", [ProposedEvent("A", "{}", event_id="idA")])
    log.append("s-1", [ProposedEvent("B", "{}")])
    # stream at version 1; idA committed at 0. Exact match -> fresh write.
    last = log.append("s-1", [ProposedEvent("A2", "{}", event_id="idA")],
                      expected_version=1)
    assert last == 2
    assert log.load().where("stream_id = 's-1'").count() == 3
    # the SAME batch by id under ANY-mode is the positionless dedupe:
    # no-op, reporting the id's own committed number
    got = log.append("s-1", [ProposedEvent("A2", "{}", event_id="idA")])
    assert got == 2
    assert log.load().where("stream_id = 's-1'").count() == 3


def test_idempotent_replay_reports_batch_own_positions(log):
    """CommitCheckResult carries the replayed batch's OWN
    start/endEventNumber — a delayed retry must get its original
    positions back, not the stream's advanced head."""
    evs = [ProposedEvent("A", "{}", event_id="r1"),
           ProposedEvent("B", "{}", event_id="r2")]
    assert log.append("s-2", evs, expected_version=-1) == 1
    for i in range(4):
        log.append("s-2", [ProposedEvent("C", "{}")])
    assert log._core.cache.streams["s-2"][0] == 5
    # delayed retry of the original batch: same expected, same ids
    assert log.append("s-2", evs, expected_version=-1) == 1  # NOT 5
    # ANY-mode full-dedupe replay also reports the batch's own end
    assert log.append("s-2", evs) == 1


def test_tombstone_mid_batch_rejected_atomically(log):
    """Events positioned after a $streamDeleted in the same batch would
    outlive the tombstone and break 'the tombstone is the stream's final
    event' — the whole batch is rejected before any mutation."""
    from eventstore_spark.schema import STREAM_DELETED_EVENT_TYPE

    log.append("s-3", [ProposedEvent("A", "{}")])
    with pytest.raises(StreamDeletedError):
        log.append("s-3", [
            ProposedEvent(STREAM_DELETED_EVENT_TYPE, None, is_json=False),
            ProposedEvent("B", "{}"),
        ])
    # nothing from the rejected batch landed; the stream is NOT deleted
    assert log.load().where("stream_id = 's-3'").count() == 1
    log.append("s-3", [ProposedEvent("C", "{}")])  # still writable
    # a tombstone as the FINAL event of a batch is the legal delete shape
    log.append("s-3", [ProposedEvent("D", "{}"),
                       ProposedEvent(STREAM_DELETED_EVENT_TYPE, None,
                                     is_json=False)])
    with pytest.raises(StreamDeletedError):
        log.append("s-3", [ProposedEvent("E", "{}")])


def test_soft_delete_discards_prior_metadata(spark, tmp_path):
    """StorageWriterService.cs:510 parity: the soft delete writes a
    FRESH ``{$tb: DeletedStream}`` document — prior maxCount/maxAge are
    deliberately discarded, so the RECREATED stream has no retention
    (SoftUndeleteRawMeta preserves whatever document exists at recreate
    time, which is the $tb-only one). Pinned against the tempting
    'merge $tb into the current doc' alternative, which would carry
    retention across deletes and diverge from the reference (and from
    the chaos model)."""
    import json as _json

    from eventstore_spark.engine import EventStoreEngine

    eng = EventStoreEngine(spark, str(tmp_path / "sdm"))
    eng.set_stream_metadata("orders-1", max_count=2)
    for i in range(4):
        eng.append("orders-1", [ProposedEvent("Op", f'{{"i": {i}}}')])
    assert eng.read_stream("orders-1").count() == 2  # maxCount active
    eng.delete_stream("orders-1")  # soft
    assert eng.read_stream("orders-1").count() == 0
    # recreate: $tb moves to the first new number; maxCount is GONE
    for i in range(4):
        eng.append("orders-1", [ProposedEvent("Op2", f'{{"i": {i}}}')])
    doc = _json.loads(eng.events(visible_only=False)
                      .where("stream_id = '$$orders-1'")
                      .orderBy("event_number", ascending=False).first().data)
    assert "$maxCount" not in doc
    assert eng.read_stream("orders-1").count() == 4  # no retention
    eng.close()


# ---------------------------------------------------------------------------
# Round 8 (cont.): CheckCommit parity — CorruptedIdempotency, StreamExists
# edges, NoStream recreate (IndexWriter.CheckCommit:179-287,
# StorageWriterService.cs:672-703)
# ---------------------------------------------------------------------------


def test_any_mode_partial_prefix_is_corrupted_idempotency(log):
    """ANY-mode: a KNOWN first id followed by an unknown one is
    CommitDecision.CorruptedIdempotency (CheckCommit:210), which the
    reference answers as WrongExpectedVersion
    (StorageWriterService.cs:688-691) — nothing is appended, never a
    partial skip-and-append."""
    log.append("ci-1", [ProposedEvent("A", "{}", event_id="k1"),
                        ProposedEvent("B", "{}", event_id="k2")])
    with pytest.raises(WrongExpectedVersionError):
        log.append("ci-1", [ProposedEvent("A", "{}", event_id="k1"),
                            ProposedEvent("C", "{}", event_id="fresh")])
    assert log.load().where("stream_id = 'ci-1'").count() == 2


def test_any_mode_fresh_first_id_recommits_later_known_ids(log):
    """ANY-mode: an UNKNOWN first id decides Ok for the WHOLE batch
    (CheckCommit:204-217 walks until the first miss and returns Ok when
    it IS the first) — previously-committed ids later in the batch are
    re-committed at new positions, not skipped."""
    log.append("ci-2", [ProposedEvent("A", "{}", event_id="old1")])
    last = log.append("ci-2", [ProposedEvent("B", "{}", event_id="new1"),
                               ProposedEvent("A", "{}", event_id="old1")])
    assert last == 2
    rows = sorted(
        (r.event_number, r.event_id)
        for r in log.load().where("stream_id = 'ci-2'").collect()
    )
    assert rows == [(0, "old1"), (1, "new1"), (2, "old1")]


def test_exact_mode_partial_prefix_is_corrupted_idempotency(log):
    """Exact-mode positional walk: first id matches expected+1, second
    diverges → CorruptedIdempotency → WrongExpectedVersion, nothing
    appended (CheckCommit:236-258)."""
    log.append("ci-3", [ProposedEvent("A", "{}", event_id="x1"),
                        ProposedEvent("B", "{}", event_id="x2")],
               expected_version=NO_STREAM)
    log.append("ci-3", [ProposedEvent("C", "{}")])
    with pytest.raises(WrongExpectedVersionError):
        log.append("ci-3", [ProposedEvent("A", "{}", event_id="x1"),
                            ProposedEvent("B2", "{}", event_id="other")],
                   expected_version=NO_STREAM)
    assert log.load().where("stream_id = 'ci-3'").count() == 3


def test_stream_exists_passes_on_metastream_only(log):
    """StreamExists succeeds when the stream has no events but its
    METASTREAM does (CheckCommit:195-200) — metadata set before the
    first append makes the stream 'exist'."""
    from eventstore_spark.schema import METADATA_EVENT_TYPE

    with pytest.raises(WrongExpectedVersionError):
        log.append("se-1", [ProposedEvent("A")],
                   expected_version=STREAM_EXISTS)
    log.append("$$se-1", [ProposedEvent(METADATA_EVENT_TYPE,
                                        data='{"$maxCount": 100}')])
    last = log.append("se-1", [ProposedEvent("A", "{}")],
                      expected_version=STREAM_EXISTS)
    assert last == 0


def test_stream_exists_on_soft_deleted_is_deleted(log):
    """StreamExists on a soft-deleted stream is CommitDecision.Deleted
    (CheckCommit:192-193) — unlike ANY/NoStream it does NOT recreate."""
    log.append("se-2", [ProposedEvent("A", "{}")])
    log.soft_delete("se-2")
    with pytest.raises(StreamDeletedError):
        log.append("se-2", [ProposedEvent("B", "{}")],
                   expected_version=STREAM_EXISTS)
    # ANY still recreates
    last = log.append("se-2", [ProposedEvent("B", "{}")])
    assert last == 1


def test_no_stream_recreates_soft_deleted_stream(log):
    """NoStream on a soft-deleted stream is the recreate path
    (CheckCommit:255-256): Ok, numbering continues after the old last,
    $tb moves to the first new number."""
    log.append("se-3", [ProposedEvent("A", "{}"), ProposedEvent("B", "{}")],
               expected_version=NO_STREAM)
    log.soft_delete("se-3")
    last = log.append("se-3", [ProposedEvent("C", "{}")],
                      expected_version=NO_STREAM)
    assert last == 2  # continues, not renumbered
    import json as _json
    meta = _json.loads(
        log.load().where("stream_id = '$$se-3'")
        .orderBy("event_number", ascending=False).first().data)
    assert meta["$tb"] == 2


def test_structural_append_validation(log):
    """The reference's access-independent write validation
    (SystemNames.IsInvalidStream:55-58, ClientMessage.WriteEvents:186-191,
    Data/Event.cs:30-35): empty / bare-"$$" stream ids, out-of-range
    expected versions, and empty event type/id are rejected before any
    state moves; whitespace ids and $-stream ids remain structurally
    valid (access rules are ACL territory, out of scope)."""
    ok = [ProposedEvent("A", "{}")]
    for bad_sid in ("", "$$"):
        with pytest.raises(ValueError):
            log.append(bad_sid, ok)
    for bad_ver in (-3, -5, -100):
        with pytest.raises(ValueError):
            log.append("v-1", ok, expected_version=bad_ver)
    with pytest.raises(ValueError):
        log.append("v-1", [ProposedEvent("", "{}")])
    with pytest.raises(ValueError):
        log.append("v-1", [ProposedEvent("A", "{}", event_id="")])
    assert log.load().where("stream_id = 'v-1'").count() == 0  # nothing landed
    # structurally valid edge ids still append
    assert log.append("  ", ok) == 0
    assert log.append("$oddball", [ProposedEvent("A", "{}")]) == 0


def test_append_df_publishes_only_its_own_files(spark, tmp_path, monkeypatch):
    """A parquet file that lands in the log dir while append_df's Spark
    write runs (a concurrent rewrite moving its staged files in) must not
    join the append's generation: once the rewrite unwinds it, a
    snapshot that names it could no longer be read."""
    import os
    import shutil

    from pyspark.sql.readwriter import DataFrameWriter

    from eventstore_spark import manifest as M

    path = str(tmp_path / "log")
    w = EventLogWriter(spark, path)
    w.append("s-1", [ProposedEvent("A")])
    stray = os.path.join(path, "part-scavenge-1-00000.parquet")
    real_parquet = DataFrameWriter.parquet

    def write_then_drop(self, *a, **k):
        real_parquet(self, *a, **k)
        shutil.copy(os.path.join(path, M.snapshot_files(path)[0]), stray)

    batch = spark.createDataFrame(
        [("s-2", "B", "{}", None, "e-b")],
        "stream_id string, event_type string, data string, "
        "metadata string, event_id string")
    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", write_then_drop)
        w.append_df(batch)
    assert os.path.basename(stray) not in M.snapshot_files(path)
    os.remove(stray)  # the rewrite unwinds its file
    rows = w.load().orderBy("log_position").collect()
    assert [(r.stream_id, r.event_type) for r in rows] == [
        ("s-1", "A"), ("s-2", "B")]
    w.close()


def test_first_appends_resolve_the_manifest_once_per_read(spark, tmp_path,
                                                          monkeypatch):
    """A first append to a new stream reads the current generation for
    its stream state and its metadata: two ``manifest.latest`` calls,
    not a second existence check before each read."""
    from eventstore_spark import manifest as M
    from eventstore_spark.engine import EventStoreEngine

    eng = EventStoreEngine(spark, str(tmp_path / "store"))
    calls = []
    real_latest = M.latest

    def counting(path):
        calls.append(path)
        return real_latest(path)

    monkeypatch.setattr(M, "latest", counting)
    for i in range(10):
        eng.append(f"new-{i}", [ProposedEvent("E", "{}")])
    assert len(calls) <= 20
    eng.close()
